package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.execution.QueryExecution

import graft.drift.Drift
import graft.engine.{ImageConstraints, PixelChecks, ValidationEngine}
import graft.gen.SyntheticImages
import graft.integrity.{Referential, SkewJoin}
import graft.ops.Dedup
import graft.table.{Maintenance, Manifest, SnapshotLog, ValidationJob}

/** What one run shares with its workload: the session (replaced when the
  * core count changes), the work directory and the seed's index window.
  */
final class Env(var spark: SparkSession, val workDir: String, val seed: Long) {
  val from: Long = Inputs.offset(seed)
  def path(name: String): String = s"$workDir/$name"
}

/** Call accounting for one run. Every public library call counts as one
  * attempted operation; a call that throws or whose output fails a check
  * counts as failed.
  */
final class Ctx(val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  def call[T](name: String, layer: String)(body: => T): T = {
    attempted += 1
    tracer.span(name, layer)(body)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; if (problems.size < 20) problems += what }
}

/** One closed-loop workload: a single caller issuing the next call only
  * after the previous one returned.
  */
abstract class Workload(val env: Env) {
  def spark: SparkSession = env.spark

  /** Input rows one iteration completes. */
  def rowsPerIter: Long

  /** How long to warm up before measuring. Iteration times of a fresh JVM
    * keep falling for tens of seconds while hot paths are compiled, and a
    * warm-up that ended on that slope measured a different point of the
    * curve in each run. Each value is about where the workload's curve
    * flattened on 4 cores; dedup_integrity's still falls a little after
    * 30 s, but a longer warm-up did not fit the time the full set of
    * benchmark runs may take.
    */
  def warmupSeconds: Double

  /** Writes every input table (overwriting), so it can be timed repeatedly. */
  def setup(): Unit

  /** Computes reference answers from the written inputs; not timed. */
  def prepare(): Unit = ()

  /** One iteration; returns named observations (e.g. commit latencies). */
  def iterate(ctx: Ctx, iter: Int): Map[String, Seq[Double]]

  /** Removes what iteration `iter` left behind; not timed. */
  def cleanup(iter: Int): Unit = ()

  /** The image table the per-layer engine ladder runs over. */
  def ladderInput: DataFrame

  /** Pixel checks for the ladder's decode rung, where the input has bytes. */
  def ladderPixelChecks: Option[PixelChecks] = None

  def inputBytes: Long

  def sizes: Map[String, Any]
}

object Workload {
  val names: Seq[String] = Seq("validate_scan", "ingest_commit", "dedup_integrity")

  def apply(name: String, env: Env): Workload = name match {
    case "validate_scan"             => new ValidateScan(env)
    case "ingest_commit"             => new IngestCommit(env)
    case "dedup_integrity"           => new DedupIntegrity(env)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Status counts summed over a rollup frame. */
  def totals(rollups: Seq[Row]): (Long, Long, Long) =
    rollups.foldLeft((0L, 0L, 0L)) { case ((s, i, e), r) =>
      (s + r.getAs[Long]("n_success"), i + r.getAs[Long]("n_invalid"), e + r.getAs[Long]("n_error"))
    }

  /** Commit latencies from a chain: the first from the call's start, each
    * later one from the previous commit (manifests' createdAtMs).
    */
  def commitGaps(log: SnapshotLog, head: Manifest, startMs: Long): Seq[Double] = {
    val created = log.chain(head).map(_.createdAtMs).toSeq.sorted
    (startMs +: created).sliding(2).collect { case Seq(a, b) => (b - a).toDouble }.toSeq
  }

  /** Per-commit deltas of the cumulative `wall_ms_<phase>` manifest metrics. */
  def phaseMs(log: SnapshotLog, head: Manifest, phase: String): Seq[Double] = {
    val cum = log.chain(head).toSeq.sortBy(_.sequence).map(_.metrics.getOrElse(s"wall_ms_$phase", 0L))
    (0L +: cum).sliding(2).collect { case Seq(a, b) => (b - a).toDouble }.toSeq
  }

  /** Order-independent fingerprint of a table's (image_id, status) rows. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(image_id, status))")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }
}

// ------------------------------------------------------------ validate_scan --

/** BASELINE headline: the cheap gate (no pixel checks) over a pre-written
  * image table. The plan never reads `bytes` and nothing is written, so the
  * engine and constraint layers do almost all of the work.
  */
final class ValidateScan(env: Env) extends Workload(env) {
  // About 0.4 s per call on 4 cores: many samples per run.
  val rows = 150000L
  val files = 8
  private val path = env.path("scan_images")
  private var expectInvalid = 0L

  def rowsPerIter: Long = rows
  def warmupSeconds: Double = 30.0
  def setup(): Unit = Inputs.writeParquet(Inputs.images(spark, env.from, rows, files, contentPool = 4096), path)
  override def prepare(): Unit = expectInvalid = (env.from until env.from + rows).count(Inputs.cheapInvalid).toLong

  def iterate(ctx: Ctx, iter: Int): Map[String, Seq[Double]] = {
    val t = spark.read.parquet(path)
    val res = ctx.call("process", "engine")(new ValidationEngine(ImageConstraints.v1).process(t))
    val rolls = ctx.call("rollups_collect", "engine")(res.rollups.collect().toSeq)
    val (s, i, e) = Workload.totals(rolls)
    ctx.check(s + i + e == rows, s"validate_scan: statuses sum to ${s + i + e}, expected $rows")
    ctx.check(i == expectInvalid && e == 0, s"validate_scan: invalid=$i error=$e, expected invalid=$expectInvalid error=0")
    Map.empty
  }

  def ladderInput: DataFrame = spark.read.parquet(path)
  def inputBytes: Long = Inputs.dirBytes(path)
  def sizes: Map[String, Any] = Map("rows" -> rows, "files" -> files, "input_bytes" -> inputBytes)
}

// ------------------------------------------------------------ ingest_commit --

/** The flagship produce path: pixel checks on, bytes kept, sketches on,
  * default commitBatch (8), so the 8 input partitions make one commit. Then
  * the no-op resume, the valid-table read, drift against the previous
  * iteration's snapshot (same rows, so no drift), and table maintenance:
  * compaction, checkpoint, expire and the valid read after them.
  * Decode- and write-bound.
  */
final class IngestCommit(env: Env) extends Workload(env) {
  val parts = 8
  val rowsPerPart = 600L
  private val pc = PixelChecks(contentPool = 4096)
  private val inDir = env.path("ingest_in")
  private def inPath(p: Int) = Inputs.partFile(inDir, p)
  private def root(iter: Int) = env.path(s"ingest_table-$iter")
  private var expect: (Long, Long, Long) = (0L, 0L, 0L)
  private var previous: Option[Manifest] = None

  def rowsPerIter: Long = parts * rowsPerPart
  def warmupSeconds: Double = 25.0
  def setup(): Unit = Inputs.writeParquet(Inputs.images(spark, env.from, rowsPerIter, parts, pc.contentPool), inDir)

  /** The engine alone, same options, over the same rows: the job's
    * committed counts must equal these.
    */
  override def prepare(): Unit =
    expect = Workload.totals(new ValidationEngine(ImageConstraints.v1,
      graft.engine.EngineOptions(pixelChecks = Some(pc))).process(ladderInput).rollups.collect().toSeq)

  def iterate(ctx: Ctx, iter: Int): Map[String, Seq[Double]] = {
    val log = new SnapshotLog(root(iter), spark.sparkContext.hadoopConfiguration)
    val input = (p: Int) => spark.read.parquet(inPath(p))
    def job = new ValidationJob(spark, log, ImageConstraints.v1, pixelChecks = Some(pc))
    val t0 = System.currentTimeMillis()
    val m = ctx.call("validation_job_run", "table")(job.run(input, 0 until parts))
    val runMs = (System.currentTimeMillis() - t0).toDouble
    val (s, i, e) = (m.metrics("n_success"), m.metrics("n_invalid"), m.metrics("n_error"))
    ctx.check(s + i + e == rowsPerIter, s"ingest_commit: statuses sum to ${s + i + e}, expected $rowsPerIter")
    ctx.check((s, i, e) == expect, s"ingest_commit: job counts ${(s, i, e)} differ from engine counts $expect")
    val m2 = ctx.call("resume_noop", "table")(job.run(input, 0 until parts))
    ctx.check(m2.sequence == m.sequence && log.head.map(_.sequence).contains(m.sequence),
      s"ingest_commit: resume committed (head ${log.head.map(_.sequence)} vs ${m.sequence})")
    val nValid = ctx.call("read_valid", "table")(log.readTable(spark, m, "valid").count())
    ctx.check(nValid == s, s"ingest_commit: valid table has $nValid rows, n_success=$s")
    val report = ctx.call("report_from_manifests", "drift")(Drift.reportFromManifests(previous.getOrElse(m), m))
    ctx.check(report.scores.nonEmpty && report.pass, s"ingest_commit: drift between identical inputs: ${report.scores}")
    previous = Some(m)
    // Read per-commit figures before expire deletes pre-checkpoint manifests.
    val phases = Seq("write_annotated", "write_violations", "write_rollups").map(p => p -> Workload.phaseMs(log, m, p))
    val commits = m.sequence
    val commitMs = Workload.commitGaps(log, m, t0)
    val bytesWritten = Inputs.dirBytes(root(iter)).toDouble
    val filesWritten = Inputs.dataFiles(root(iter)).toDouble
    val manifestBytes = Inputs.dirBytes(root(iter) + "/snapshots").toDouble

    val before = Workload.fingerprint(log.readTable(spark, m, "annotated"))
    val cs = ctx.call("compact", "table")(Maintenance.compact(spark, log, "annotated"))
    val after = Workload.fingerprint(log.readTable(spark, cs.manifest, "annotated"))
    ctx.check(before == after, s"ingest_commit: compaction changed (count, xor-hash) from $before to $after")
    val cp = ctx.call("checkpoint", "table")(log.checkpoint(cs.manifest))
    ctx.call("expire", "table")(Maintenance.expire(log))
    val nValidAfter = ctx.call("read_valid_maintained", "table")(log.readTable(spark, cp, "valid").count())
    ctx.check(nValidAfter == s, s"ingest_commit: valid table has $nValidAfter rows after maintenance, n_success=$s")
    Map(
      "commit_ms" -> commitMs,
      "stored_bytes" -> Seq(Inputs.dirBytes(root(iter)).toDouble),
      "table.bytes_written" -> Seq(bytesWritten),
      "table.files_written" -> Seq(filesWritten),
      "table.manifest_bytes" -> Seq(manifestBytes),
      "table.files_after_compact" -> Seq(cs.filesAfter.toDouble),
      "table.compact_bytes_rewritten" -> Seq(cs.bytesRewritten.toDouble),
      "table.commits" -> Seq(commits.toDouble),
      "table.commit_other_ms" -> Seq((runMs - phases.map(_._2.sum).sum) / commits)
    ) ++ phases.map { case (p, v) => s"table.${p}_ms" -> v }
  }

  override def cleanup(iter: Int): Unit = Inputs.deleteDir(root(iter))
  def ladderInput: DataFrame = spark.read.parquet(inDir)
  override def ladderPixelChecks: Option[PixelChecks] = Some(pc)
  def inputBytes: Long = Inputs.dirBytes(inDir)
  def sizes: Map[String, Any] =
    Map("rows" -> rowsPerIter, "partitions" -> parts, "rows_per_partition" -> rowsPerPart, "input_bytes" -> inputBytes)
}

// ---------------------------------------------------------- dedup_integrity --

/** Near-duplicate and referential checks over a materialised meta image
  * table (each content about four times, so exact duplicates too) and a
  * caption table with varied text. Shuffle- and join-bound;
  * the only workload that reaches the ops, functions and integrity layers.
  * One row in five carries one of eight hot phashes, so those buckets
  * exceed the LSH bucket cap and are dropped (counted). Components runs
  * over the caption near-duplicate pairs.
  */
final class DedupIntegrity(env: Env) extends Workload(env) {
  val rows = 4000L
  /** Each hot phash holds 2.5% of the rows (100 here), above this cap. */
  val PhashBucketCap = 50
  /** Every seed's window covers the whole pool four times, so the phash
    * multiset, and with it the pair work, hardly depends on the seed.
    */
  val ContentPool = 1000
  private val imgPath = env.path("dd_images")
  private val capPath = env.path("dd_captions")
  private val watchPath = env.path("dd_watch")
  private var expectOrphans, expectDangling, expectJoined = 0L
  private var plantedPairs = Set.empty[(Long, Long)]
  private var seen: Option[Seq[Long]] = None
  private val dropped = new java.util.concurrent.atomic.AtomicLong()

  /** LSH bucket-cap drops surface as observed metrics on the executed plan. */
  private val obsListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.get("lsh_buckets").foreach(r => dropped.addAndGet(r.getAs[Long]("lsh_dropped_rows")))
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  private var listening: SparkSession = null

  def rowsPerIter: Long = rows
  def warmupSeconds: Double = 30.0
  def setup(): Unit = {
    Inputs.writeParquet(Inputs.imagesMeta(spark, env.from, rows, 4, ContentPool), imgPath)
    Inputs.writeParquet(Inputs.captions(spark, env.from, rows, 4), capPath)
    // Skew-join right side: the hot phashes plus every 97th image's phash.
    val sampled = spark.read.parquet(imgPath).filter(abs(xxhash64(col("image_id"))) % 97 === 0).select("phash")
    val session = spark
    import session.implicits._
    Inputs.writeParquet(sampled.union(SyntheticImages.hotPhashes.toSeq.toDF("phash")).distinct().coalesce(1), watchPath)
  }

  override def prepare(): Unit = {
    val imgs = spark.read.parquet(imgPath).select("image_id", "phash").collect()
      .map(r => (Option(r.getString(0)), r.getLong(1)))
    val caps = Inputs.captionRows(env.from, rows).toSeq
    val capIds = caps.map(_.image_id).toSet
    val imgIds = imgs.flatMap(_._1).toSet
    expectOrphans = imgs.count { case (id, _) => id.exists(x => !capIds.contains(x)) }.toLong
    expectDangling = caps.count(c => !imgIds.contains(c.image_id)).toLong
    val watch = spark.read.parquet(watchPath).collect().map(_.getLong(0)).toSet
    expectJoined = imgs.count { case (_, ph) => watch.contains(ph) }.toLong
    val kept = caps.map(_.cap_id).toSet
    plantedPairs = (env.from until env.from + rows)
      .filter(i => Inputs.plantedNearDup(i) && kept.contains(i) && kept.contains(i - 1)).map(i => (i - 1, i)).toSet
  }

  def iterate(ctx: Ctx, iter: Int): Map[String, Seq[Double]] = {
    if (listening ne spark) { spark.listenerManager.register(obsListener); listening = spark }
    val images = spark.read.parquet(imgPath)
    val caps = spark.read.parquet(capPath)
    dropped.set(0L)
    val nPh = ctx.call("phash_pairs", "ops")(
      Dedup.phashPairs(images.filter(col("image_id").isNotNull), "image_id", "phash", maxBucket = PhashBucketCap).count())
    ctx.call("minhash_signatures", "functions")(
      Dedup.minhashSignatures(caps, "cap_id", "caption").write.format("noop").mode("overwrite").save())
    val mhPairs = ctx.call("minhash_pairs", "ops")(
      Dedup.minhashPairs(caps, "cap_id", "caption", threshold = 0.8).localCheckpoint())
    val mh = mhPairs.collect()
    val found = mh.map(r => (r.getLong(0), r.getLong(1))).toSet
    ctx.check(plantedPairs.subsetOf(found), s"dedup: ${(plantedPairs -- found).size} planted near-duplicate pairs missed")
    ctx.check(mh.forall(_.getDouble(2) >= 0.8), "dedup: a reported pair is below the threshold")
    // Near-duplicate groups: every vertex of the pair graph gets one label.
    val comps = ctx.call("components", "ops")(Dedup.components(mhPairs).collect())
    val vertices = found.flatMap { case (a, b) => Seq(a, b) }
    ctx.check(comps.length == vertices.size && comps.map(_.getLong(0)).toSet == vertices,
      s"dedup: ${comps.length} labelled vertices, pairs touch ${vertices.size}")
    val ref = ctx.call("referential_check", "integrity")(Referential.check(images, caps))
    ctx.check(ref.orphanImages == expectOrphans && ref.danglingCaptions == expectDangling,
      s"dedup: referential ${ref.orphanImages}/${ref.danglingCaptions}, expected $expectOrphans/$expectDangling")
    val hot = ctx.call("detect_hot_keys", "integrity")(SkewJoin.detectHotLongKeys(images, "phash"))
    ctx.check(SyntheticImages.hotPhashes.forall(hot.contains), s"dedup: hot keys $hot miss a planted hot phash")
    val joined = ctx.call("skewjoin", "integrity")(
      SkewJoin.saltedJoinAuto(images.select("image_id", "phash"), spark.read.parquet(watchPath), "phash").count())
    ctx.check(joined == expectJoined, s"dedup: salted join has $joined rows, expected $expectJoined")
    org.apache.spark.BenchBus.drain(spark.sparkContext) // query-listener callbacks ride the listener bus
    val counts = Seq(nPh, found.size.toLong, dropped.get, hot.size.toLong)
    // Each iteration of one seed must reproduce the same counts exactly.
    ctx.check(seen.forall(_ == counts), s"dedup: counts $counts differ from an earlier iteration's ${seen.get}")
    seen = Some(counts)
    mhPairs.unpersist()
    Map("ops.pairs" -> Seq((nPh + found.size).toDouble), "ops.lsh_dropped_rows" -> Seq(dropped.get.toDouble),
      "integrity.hot_keys" -> Seq(hot.size.toDouble))
  }

  def ladderInput: DataFrame = spark.read.parquet(imgPath)
  def inputBytes: Long = Inputs.dirBytes(imgPath) + Inputs.dirBytes(capPath)
  def sizes: Map[String, Any] = Map("image_rows" -> rows, "caption_rows" -> Inputs.captionRows(env.from, rows).size,
    "input_bytes" -> inputBytes)
}
