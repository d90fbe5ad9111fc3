package graft.table

import java.util.{Base64, UUID}

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, GraftFunctions, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.constraint.{ConstraintSet, IsIn, MaxLength, MinLength, NonNull}
import graft.engine.{EngineOptions, PixelChecks, ValidationEngine}
import graft.model.Status
import graft.sketch.ColumnProfiler

/** The validate-then-produce job over a snapshotted table: ONE gate for
  * single-stream and multi-stream tables, batch runs and micro-batches.
  * [[run]] is the resumable batch loop (north_rule);
  * [[graft.streaming.StreamingValidation.processAndCommit]] sends one
  * micro-batch through the same per-batch routine ([[commit]]) — one
  * execution and commit model for batch and incremental runs.
  *
  * Batch contract:
  *  - the caller provides `inputFor(partition)` — explicit partition-pruned
  *    input (with a manifest-backed source this is file-list construction,
  *    not a post-scan filter: SURVEY §4 "pruning is explicit"). It is called
  *    once per partition, concurrently for the partitions of a batch, on
  *    pool threads that carry the caller's session, job group and job tags
  *    ([[BatchInput]]), so it must be safe to call from several threads at
  *    once;
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
  *    read tasks. Any other input (a filter or projection on top, partition
  *    columns, differing schemas, a file shared between partitions) falls
  *    back to a union of per-partition frames — same rows, same outputs;
  *  - a killed job re-run skips every partition in the chain's committed
  *    set — only unfinished work reprocesses.
  *
  * Per batch ([[commit]]):
  *  1. ONE full pass writes the annotated frame routed by status (and by
  *     stream for a routed engine) — the valid table is its
  *     statusd=success directory — while an attached Observation collects
  *     status counts during the same job, and the valid rows' column-stat
  *     sketches: every [[graft.sketch.ColumnProfiler.Profiled]] entry whose
  *     column the annotated frame has, the same list
  *     [[graft.sketch.ColumnProfiler.profile]] aggregates;
  *  2. violations derive from the written FAILING slice (the ~1%
  *     minority) in one scan, then pass suppression and the error-schema
  *     gate;
  *  3. rollups come from the Observation when the batch's partition ids are
  *     known up front and rows are not routed, and are then written while
  *     the violations are; otherwise (per-stream counts are value-dependent,
  *     micro-batches have no partition ids) they aggregate over the written
  *     table's narrow columns, after the violations write;
  *  4. one manifest commit, only after every write has stopped, with
  *     cumulative counts, merged sketches and per-phase wall and
  *     executor-task milliseconds (`wall_ms_<phase>`, `task_ms_<phase>` for
  *     `inputs` — batch runs only —, `write_annotated`, `write_violations`,
  *     `write_rollups`) — the engine analog of the reference's per-route
  *     duration histograms (eventgate/lib/util.js:101-139). Both are exact:
  *     the listener's queue is drained before task time is read. Phases
  *     may overlap: `wall_ms_write_rollups` may overlap
  *     `wall_ms_write_violations`, so wall times need not sum to the
  *     commit's duration.
  * The input is never scanned a second time: at 10^12 rows this is the
  * difference between one and three full passes.
  *
  * The three writes go through [[LocalFs]]: on a `file:` table each data
  * file, its `.crc` and each new directory get their mode from a syscall,
  * not a forked `chmod` (one per file and directory without libhadoop),
  * and no `_SUCCESS` marker is written — the manifest is the commit point.
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
  *
  * Multi-stream output is the reference's "produce each event to its
  * stream's topic" (eventgate/lib/factories/default-eventgate.js:
  * 242-278) with the Guaranteed-producer contract: all streams' outputs for
  * a batch become visible through ONE atomic manifest or not at all.
  */
final class ValidationJob(
    spark: SparkSession,
    log: SnapshotLog,
    /** the gate each batch runs; the job sets its snapshot id per batch,
      * and its partition id column to the batch tag `_pid` in [[run]]. */
    engine: ValidationEngine,
    partitionSpec: String,
    /** keep-predicate over violation rows; None keeps all. */
    suppressViolations: Option[Column],
    /** partitions per Spark job + manifest commit. */
    commitBatch: Int,
    /** error-schema gate for re-ingested violation rows; None skips the gate. */
    violationsSchema: Option[ConstraintSet]
) {
  require(commitBatch >= 1, "commitBatch must be >= 1")

  /** The single-stream job: one constraint set, no routing. */
  def this(
      spark: SparkSession,
      log: SnapshotLog,
      cs: ConstraintSet,
      pixelChecks: Option[PixelChecks] = None,
      partitionSpec: String = "explicit",
      suppressViolations: Option[Column] = None,
      commitBatch: Int = 8,
      violationsSchema: Option[ConstraintSet] = Some(ValidationJob.violationsSchemaV1)
  ) = this(spark, log, new ValidationEngine(cs, EngineOptions(pixelChecks = pixelChecks)), partitionSpec,
    suppressViolations, commitBatch, violationsSchema)

  import ValidationJob._

  def run(inputFor: Int => DataFrame, partitions: Seq[Int]): Manifest = {
    var current = log.head
    val done = current.map(log.committedPartitions).getOrElse(Set.empty[Int])
    for (batch <- partitions.filterNot(done).grouped(commitBatch)) {
      val parent = current
      current = Some(Phases.around(spark) { phases =>
        // One heterogeneous input per batch, each row tagged with its
        // partition id in `_pid`.
        val tagged = phases("inputs")(BatchInput.of(spark, batch, inputFor))
        val committedSoFar = parent.map(log.committedPartitions).getOrElse(Set.empty) ++ batch
        commit(
          parent, tagged, batch.mkString("_"), parent.map(_.snapshotId).getOrElse("snap-00000000"),
          partitions = Some(batch), complete = partitions.toSet.subsetOf(committedSoFar), streamBatches = Map.empty,
          phases = phases)
      })
    }
    current.getOrElse(throw new IllegalStateException("nothing to commit: no partitions"))
  }

  /** Validate `input` and produce it as ONE commit on top of `parent`.
    * `partitions` are the batch's partition ids when `input` carries them
    * in `_pid` ([[BatchInput]]); None takes the engine's own partition id
    * column (a micro-batch). `streamBatches` is the manifest's replay
    * ledger entry. `phases` times the commit's phases; its metrics so far
    * (a batch's `inputs`) are committed too.
    */
  private[graft] def commit(
      parent: Option[Manifest],
      input: DataFrame,
      tag: String,
      snapshotId: String,
      partitions: Option[Seq[Int]],
      complete: Boolean,
      streamBatches: Map[String, Seq[Long]],
      phases: Phases
  ): Manifest = {
    val streamCol = engine.streamCol
    val opts = engine.opts.copy(
      snapshotId = snapshotId,
      partitionIdCol = if (partitions.isDefined) col("_pid") else engine.opts.partitionIdCol)
    val res = new ValidationEngine(engine.registry, opts, streamCol, engine.schemaUriCols).process(input)

    val annotatedPath = log.dataDir(tag, "annotated")
    val vioPath = log.dataDir(tag, "violations")
    val rollPath = log.dataDir(tag, "rollups")

    val fsOpts = LocalFs.options(spark)
    // Rollup counts are observable per partition only when the partition
    // ids are known up front and rows are not split further by stream.
    val observedParts = partitions.filter(_ => streamCol.isEmpty)
    val ok = col("status") === Status.Success
    val countExprs = observedParts match {
      case Some(ps) =>
        ps.flatMap { p =>
          Seq(
            count(when(col("partition_id") === p && ok, 1)).as(s"s_$p"),
            count(when(col("partition_id") === p && col("status") === Status.Invalid, 1)).as(s"i_$p"),
            count(when(col("partition_id") === p && col("status") === Status.Error, 1)).as(s"e_$p")
          )
        }
      case None =>
        Seq(
          count(when(ok, 1)).as("n_s"),
          count(when(col("status") === Status.Invalid, 1)).as("n_i"),
          count(when(col("status") === Status.Error, 1)).as("n_e")
        )
    }
    val annFrame = res.annotated.drop("_pid").drop("_decode")
    val profiled = ColumnProfiler.profiledIn(annFrame)
    val statsObs = Observation(s"stats_$tag")
    val statExprs = countExprs ++ profiled.map(_.aggregate(when(ok, _)))
    // `statusd`/`streamd` duplicate `status`/the stream purely for
    // directory routing: the real columns stay IN the data files so
    // snapshot readers can use one multi-root recursive scan
    // (SnapshotLog.readPaths) instead of Hive partition inference, which
    // rejects multi-root reads.
    phases("write_annotated") {
      val observed = annFrame.observe(statsObs, statExprs.head, statExprs.tail: _*).withColumn("statusd", col("status"))
      streamCol.fold(observed)(s => observed.withColumn("streamd", col(s)))
        .write.options(fsOpts).mode("overwrite")
        .partitionBy("statusd" +: streamCol.map(_ => "streamd").toSeq: _*).parquet(annotatedPath)
    }
    val stats = statsObs.get
    def cnt(k: String): Long = stats(k).asInstanceOf[Long]
    val perPart = observedParts.map(_.map(p => (p, cnt(s"s_$p"), cnt(s"i_$p"), cnt(s"e_$p"))))
    val (nS, nI, nE) = perPart.fold((cnt("n_s"), cnt("n_i"), cnt("n_e")))(_.foldLeft((0L, 0L, 0L)) {
      case ((a, b, c), (_, s, i, e)) => (a + s, b + i, c + e)
    })

    // Violations from the written failing slice (status is a data
    // column, so no partition inference needed), then suppression and
    // the re-ingest gate.
    val failingDirs = SnapshotLog.failingDirs(annotatedPath, nI, nE)
    val vioSource =
      if (failingDirs.isEmpty) {
        val schema = ValidationEngine.violationRows(annFrame, snapshotId, opts.idField, streamCol).schema
        spark.createDataFrame(java.util.Collections.emptyList[Row](), StructType(schema.map(_.copy(nullable = true))))
      } else
        ValidationEngine.violationRows(
          log.readPaths(spark, failingDirs, Some(annFrame.schema)), // known file schema: no footer sampling
          snapshotId, opts.idField, streamCol)
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
          EngineOptions(snapshotId = snapshotId, idField = ValidationEngine.violationIdField(streamCol),
            partitionIdCol = col("partition_id"))
        ).process(asEvents)
        gateRes.annotated
          .observe(rejectedObs, count(when(col("status") =!= Status.Success, 1)).as("rejected"))
          .filter(col("status") === Status.Success)
          .select(kept.columns.toIndexedSeq.map(c => if (c == "status") col("violation_status").as("status") else col(c)): _*)
    }

    // Observed rollups are rows built from the observed counts (a
    // metadata-sized write, not another data scan; empty partitions keep
    // their zero rows); the rest aggregate (stream, partition_id, status)
    // of the written table.
    val rollups = perPart match {
      case Some(pp) =>
        import scala.jdk.CollectionConverters._
        spark.createDataFrame(pp.map { case (p, s, i, e) => Row(snapshotId, p, s, i, e) }.asJava, RollupSchema)
      case None =>
        val ann =
          if (nS + nI + nE > 0) log.readPaths(spark, Seq(annotatedPath), Some(annFrame.schema))
          else annFrame.limit(0)
        ValidationEngine.rollupRows(ann, snapshotId, streamCol)
    }
    val writeViolations = () => phases("write_violations") {
      gated.write.options(fsOpts).mode("overwrite").parquet(vioPath)
    }
    val writeRollups = () => phases("write_rollups") {
      rollups.coalesce(1).write.options(fsOpts).mode("overwrite").parquet(rollPath)
    }
    // Observed rollups depend on nothing the violations write does, so the
    // two one-job writes overlap; both have stopped before anything commits.
    if (perPart.isDefined) Overlap.all(spark, "graft-commit", 2)(Seq(writeViolations, writeRollups))
    else { writeViolations(); writeRollups() }
    val rejected: Long =
      if (violationsSchema.isEmpty) 0L
      else rejectedObs.get.get("rejected").map(_.asInstanceOf[Long]).getOrElse(0L)

    val prevSketches = parent.map(_.sketches).getOrElse(Map.empty)
    val mergedSketches = prevSketches ++ profiled.map { p =>
      val b = stats(p.name).asInstanceOf[Array[Byte]]
      p.name -> b64(prevSketches.get(p.name).fold(b)(a => p.kind.mergeBytes(unb64(a), b)))
    }

    // A stalled shared queue costs the exactness of task_ms_*, never the commit.
    GraftFunctions.drainSharedListeners(spark.sparkContext)
    val prevMetrics = parent.map(_.metrics).getOrElse(Map.empty)
    def plus(k: String, v: Long): (String, Long) = k -> (prevMetrics.getOrElse(k, 0L) + v)

    log.commit(
      Manifest(
        snapshotId = "", // assigned by commit
        sequence = 0L,
        parentId = parent.map(_.snapshotId),
        constraintVersion = engine.registry.sets.map(_.version).sorted.mkString(","),
        partitionSpec = partitionSpec,
        partitionsDelta = partitions.getOrElse(Seq.empty),
        complete = complete,
        // An all-empty batch writes NO annotated files (partitionBy of
        // zero rows creates no directories), so registering its paths
        // would poison later reads; the manifest still commits so the
        // empty partitions count as done (resume skips them).
        tables = Map(
          "valid" -> (if (nS > 0) Seq(SnapshotLog.validDir(annotatedPath)) else Seq.empty),
          "annotated" -> (if (nS + nI + nE > 0) Seq(annotatedPath) else Seq.empty),
          "violations" -> Seq(vioPath), // empty unpartitioned writes still leave a schema-bearing file
          "rollups" -> Seq(rollPath)
        ),
        // FILE schemas: readers plan from these, not parquet footers.
        // `valid` is a subtree view of `annotated`, so they share one.
        tableSchemas = Map(
          "valid" -> annFrame.schema.json,
          "annotated" -> annFrame.schema.json,
          "violations" -> gated.schema.json,
          "rollups" -> rollups.schema.json
        ),
        metrics = Map(
          plus("n_success", nS),
          plus("n_invalid", nI),
          plus("n_error", nE),
          plus("violations_rejected", rejected)
        ) ++ phases.metrics.map { case (k, v) => plus(k, v) },
        sketches = mergedSketches,
        createdAtMs = System.currentTimeMillis(),
        streamBatches = streamBatches
      )
    )
  }
}

object ValidationJob {

  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)
  private def unb64(s: String): Array[Byte] = Base64.getDecoder.decode(s)

  private val RollupSchema = StructType(Seq(
    StructField("snapshot_id", StringType), StructField("partition_id", IntegerType),
    StructField("n_success", LongType), StructField("n_invalid", LongType), StructField("n_error", LongType)
  ))

  /** Wall and executor-task milliseconds per named phase of one commit.
    *
    * Jobs are attributed to phases by a job tag unique to this commit, so
    * phases that overlap on other threads, and other commits in the same
    * application, never mix. Each phase also names its jobs' group after
    * itself (as seen in the UI and by listeners keyed on the group) and
    * puts the thread's previous group back when it ends: a caller's own
    * group outlives the job.
    */
  private[graft] final class Phases private (sc: SparkContext) extends SparkListener {
    private val prefix = s"graft-phase-${UUID.randomUUID()}-"
    private val stagePhase = TrieMap.empty[Int, String]
    private val wallMs = TrieMap.empty[String, Long]
    private val taskMs = TrieMap.empty[String, Long]

    def apply[T](name: String)(body: => T): T = {
      val tag = prefix + name
      val previous = GroupProperties.map(k => k -> sc.getLocalProperty(k))
      taskMs.putIfAbsent(name, 0L)
      sc.setJobGroup(name, s"graft $name", interruptOnCancel = false)
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try body
      finally {
        wallMs(name) = (System.nanoTime() - t0) / 1000000L
        sc.removeJobTag(tag)
        previous.foreach { case (k, v) => sc.setLocalProperty(k, v) } // null removes
      }
    }

    override def onJobStart(js: SparkListenerJobStart): Unit =
      Option(js.properties).flatMap(p => Option(p.getProperty(JobTagsProperty))).toSeq
        .flatMap(_.split(JobTagsSep)).collectFirst { case t if t.startsWith(prefix) => t.stripPrefix(prefix) }
        .foreach(name => js.stageIds.foreach(stagePhase.put(_, name)))

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      stagePhase.get(te.stageId).foreach { name =>
        val ms = Option(te.taskMetrics).map(_.executorRunTime).getOrElse(0L)
        taskMs.updateWith(name)(v => Some(v.getOrElse(0L) + ms))
      }

    /** `wall_ms_<phase>` and `task_ms_<phase>` of every phase begun so far.
      * Task time is exact once the shared listener queue is drained. */
    def metrics: Map[String, Long] =
      wallMs.map { case (k, v) => s"wall_ms_$k" -> v }.toMap ++ taskMs.map { case (k, v) => s"task_ms_$k" -> v }
  }

  private[graft] object Phases {
    /** `f` with a fresh [[Phases]] listening on the bus for its duration. */
    def around[T](spark: SparkSession)(f: Phases => T): T = {
      val phases = new Phases(spark.sparkContext)
      spark.sparkContext.addSparkListener(phases)
      try f(phases)
      finally spark.sparkContext.removeSparkListener(phases)
    }
  }

  // SparkContext's own names for these are private to Spark.
  private val GroupProperties = Seq("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")
  private val JobTagsProperty = "spark.job.tags"
  private val JobTagsSep = ","

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
