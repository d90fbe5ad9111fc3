package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.constraint.Compiler
import graft.engine.{EngineOptions, ImageConstraints, PixelChecks, ValidationEngine}

/** graft-bench: one workload, one seed, one run.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --out <dir>
  *
  * Set-up writes the inputs several times and reports the median. After a
  * warm-up, the workload loops (one caller, closed loop) for `--seconds`.
  * With `--trace 0` the last stdout line carries the end-to-end metrics;
  * with `--trace 1` traced and untraced iterations alternate, the engine
  * ladder runs, spans go to a trace file and the last line carries the
  * per-layer metrics. The line before it is an `info` object with the run's
  * conditions and every workload-specific figure.
  */
object Main {
  val Cores = 4
  val SetupReps = 3
  /** Warm-up runs at least this many iterations and the workload's
    * [[Workload.warmupSeconds]].
    */
  val WarmupIters = 2
  val MinIters = 3
  /** Set-up refuses to start below this much free disk in the work dir. */
  val MinFreeBytes: Long = 4L << 30

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-bench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", math.max(cores, 8).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.spill.dir", s"$work/spill")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def now: Double = System.nanoTime() / 1e9

  private def timed(body: => Unit): Double = { val t0 = now; body; now - t0 }

  /** Used heap after forced collections. Spark frees cached and
    * checkpointed blocks of unreachable datasets asynchronously, once a
    * collection has found them, so collect, give its cleaner time, repeat.
    */
  def heapRetainedMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  private final case class Iter(id: Int, traced: Boolean, startNs: Long, endNs: Long, obs: Map[String, Seq[Double]]) {
    def seconds: Double = (endNs - startNs) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val code =
      try { run(args); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a.getOrElse("workload", sys.error("--workload is required"))
    require(Workload.names.contains(name), s"unknown workload '$name' (known: ${Workload.names.mkString(", ")})")
    val seed = a.getOrElse("seed", sys.error("--seed is required")).toLong
    val seconds = a.getOrElse("seconds", sys.error("--seconds is required")).toDouble
    val trace = a.getOrElse("trace", sys.error("--trace is required")) == "1"
    val work = a.getOrElse("work", sys.error("--work is required"))
    val out = a.getOrElse("out", sys.error("--out is required"))
    Files.createDirectories(Paths.get(work))
    val free = new java.io.File(work).getUsableSpace
    require(free >= MinFreeBytes, s"only ${free >> 20} MiB free under $work; graft-bench needs ${MinFreeBytes >> 20} MiB")

    val t0 = now
    val env = new Env(session(Cores, work), work, seed)
    val w = Workload(name, env)
    val tracer = new Tracer(env.spark.sparkContext)
    val ctx = new Ctx(tracer)

    val tSession = now
    val setupS = (1 to SetupReps).map(_ => timed(w.setup()))
    val prepareS = timed(w.prepare())

    var nextId = 0
    def iterate(traced: Boolean): Iter = {
      val id = nextId
      nextId += 1
      tracer.beginRun(id, traced)
      val t0 = System.nanoTime()
      val obs =
        try w.iterate(ctx, id)
        catch {
          case e: Exception =>
            ctx.failed += 1
            ctx.problems += s"$name iteration $id: $e"
            Map.empty[String, Seq[Double]]
        }
      val t1 = System.nanoTime()
      tracer.beginRun(-1, traced = false)
      w.cleanup(id)
      Iter(id, traced, t0, t1, obs)
    }

    val warmStart = now
    val warmup = mutable.ArrayBuffer.empty[Double]
    while (warmup.size < WarmupIters || now - warmStart < w.warmupSeconds) warmup += iterate(traced = false).seconds
    val warmupS = now - warmStart

    val iters = mutable.ArrayBuffer.empty[Iter]
    val measStart = now
    while (iters.size < MinIters || now - measStart < seconds) iters += iterate(traced = trace && iters.size % 2 == 0)
    val heapMb = heapRetainedMb()

    val untraced = iters.filterNot(_.traced)
    val runS = untraced.map(_.seconds).toSeq
    val rowsPerS = Stats.ratio(w.rowsPerIter, Stats.median(runS))
    def obs(k: String): Seq[Double] = untraced.flatMap(_.obs.getOrElse(k, Nil)).toSeq

    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (trace) 1 else 0),
      "cores" -> Cores, "host_cpus" -> Runtime.getRuntime.availableProcessors(),
      "driver_heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_conf" -> env.spark.sparkContext.getConf.getAll.toSeq.sorted.filterNot(_._1.startsWith("spark.app.")).toMap,
      "sizes" -> w.sizes, "setup_s_samples" -> setupS, "warmup_s_samples" -> warmup.toSeq,
      "phase_s" -> ListMap("session" -> (tSession - t0), "setup" -> setupS.sum, "prepare" -> prepareS,
        "warmup" -> warmupS, "measure" -> (now - measStart)),
      "iterations" -> untraced.size, "run_s_samples" -> runS)
    Stats.supportedPercentile(runS.size).filter(_ > 50).foreach { p =>
      info("run_s_tail") = Map("percentile" -> p, "value" -> Stats.percentile(runS, p))
    }
    val commits = obs("commit_ms")
    if (commits.nonEmpty) info("commit_ms") = ListMap(
      "p50" -> Stats.percentile(commits, 50), "p90" -> Stats.percentile(commits, 90), "samples" -> commits.size,
      "p90_has_10_beyond" -> (Stats.samplesBeyond(commits.size, 90) >= 10))
    val stored = obs("stored_bytes")
    if (stored.nonEmpty) info("stored_bytes_per_input_byte") = Stats.ratio(Stats.median(stored), w.inputBytes.toDouble)

    val metrics: ListMap[String, (Double, String)] =
      if (!trace) {
        if (name == "validate_scan") info("scaling_efficiency") = scaling(env, w, ctx, rowsPerS, seconds)
        ListMap(
          "setup_s" -> (Stats.median(setupS), "s"),
          "run_s" -> (Stats.median(runS), "s"),
          "rows_per_s" -> (rowsPerS, "rows/s"),
          "heap_retained_mb" -> (heapMb, "MB"))
      } else {
        val traced = iters.filter(_.traced).toSeq
        val cs = tracer.counters()
        val spans = tracer.spans.toSeq
        val self = tracer.selfMs()
        def perRun(f: Iter => Double): Double = Stats.median(traced.map(f))
        def runCounters(it: Iter): Seq[Counters] = spans.filter(_.runId == it.id).flatMap(s => cs.get(s.id))
        val uncovered = perRun { it =>
          (it.endNs - it.startNs - Stats.unionLength(spans.filter(s => s.runId == it.id && s.parent == 0)
            .map(s => (s.startNs, s.endNs)))) / 1e6
        }
        val layerExtras = mutable.LinkedHashMap.empty[String, Double]
        spans.groupBy(s => s"${s.layer}.${s.name}").toSeq.sortBy(_._1).foreach { case (k, ss) =>
          layerExtras(s"$k.ms") = Stats.median(ss.map(_.ms))
          layerExtras(s"$k.self_ms") = Stats.median(ss.map(s => self(s.id)))
          layerExtras(s"$k.jobs") = Stats.median(ss.map(s => cs.get(s.id).fold(0.0)(_.jobs.toDouble)))
          layerExtras(s"$k.output_bytes") = Stats.median(ss.map(s => cs.get(s.id).fold(0.0)(_.outputBytes.toDouble)))
        }
        traced.flatMap(_.obs.keys).distinct.filter(_.contains(".")).sorted.foreach { k =>
          layerExtras(k) = Stats.median(traced.flatMap(_.obs.getOrElse(k, Nil)))
        }
        if (layerExtras.contains("table.commits")) layerExtras("table.jobs_per_commit") = perRun { it =>
          spans.filter(s => s.runId == it.id && s.name.endsWith("job_run")).flatMap(s => cs.get(s.id)).map(_.jobs).sum /
            it.obs("table.commits").head
        }
        val ladder = Ladder.run(w.ladderInput, w.ladderPixelChecks)
        ladder.foreach { case (k, v) => layerExtras(k) = v }
        info("layers") = layerExtras
        info("trace_file") = s"$out/trace-$name-$seed.json"
        tracer.write(Paths.get(out, s"trace-$name-$seed.json"),
          Map("workload" -> name, "seed" -> seed, "cores" -> Cores),
          traced.map(it => Map("run_id" -> it.id, "start_ns" -> it.startNs, "end_ns" -> it.endNs)))
        ListMap(
          "trace.overhead_ms" -> ((Stats.median(traced.map(_.seconds)) - Stats.median(runS)) * 1e3, "ms"),
          "trace.uncovered_ms" -> (uncovered, "ms"),
          "spark.task_ms_per_iter" -> (perRun(it => runCounters(it).map(_.taskMs).sum.toDouble), "ms"),
          "spark.jobs_per_iter" -> (perRun(it => runCounters(it).map(_.jobs).sum.toDouble), "count"),
          "spark.tasks_per_iter" -> (perRun(it => runCounters(it).map(_.tasks).sum.toDouble), "count"),
          "spark.input_bytes_per_iter" -> (perRun(it => runCounters(it).map(_.inputBytes).sum.toDouble), "bytes"),
          "spark.shuffle_write_bytes_per_iter" ->
            (perRun(it => runCounters(it).map(_.shuffleWriteBytes).sum.toDouble), "bytes"),
          "engine.scan_ns_per_row" -> (ladder("engine.scan_ns_per_row"), "ns"),
          "constraint.allpass_ns_per_row" -> (ladder("constraint.allpass_ns_per_row"), "ns"),
          "engine.annotate_ns_per_row" -> (ladder("engine.annotate_ns_per_row"), "ns"),
          "engine.violations_ns_per_row" -> (ladder("engine.violations_ns_per_row"), "ns"),
          "engine.rollup_ns_per_row" -> (ladder("engine.rollup_ns_per_row"), "ns"),
          "engine.process_ms" -> (ladder("engine.process_ms"), "ms"))
      }
    tracer.close()

    info("attempted") = ctx.attempted
    info("failed") = ctx.failed
    info("ops_failed_ratio") = Stats.ratio(ctx.failed.toDouble, math.max(1L, ctx.attempted).toDouble)
    info("problems") = ctx.problems.toSeq
    ctx.problems.foreach(p => System.err.println(s"graft-bench check failed: $p"))

    val result = ListMap(
      "correct" -> (ctx.failed == 0),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) })
    val infoLine = Json(Map("info" -> info))
    val resultLine = Json(result)
    Files.createDirectories(Paths.get(out))
    Files.writeString(Paths.get(out, s"result-$name-$seed-trace${if (trace) 1 else 0}.json"),
      infoLine + "\n" + resultLine + "\n")
    env.spark.stop()
    println(infoLine)
    println(resultLine)
  }

  /** The same workload on one core: rows/s at [[Cores]] over Cores × rows/s
    * at one core, both measured on the same input in this process.
    */
  private def scaling(env: Env, w: Workload, ctx: Ctx, rowsPerSMany: Double, seconds: Double): Double = {
    env.spark.stop()
    env.spark = session(1, env.workDir)
    val tracer = new Tracer(env.spark.sparkContext)
    val one = new Ctx(tracer)
    w.iterate(one, -1)
    val t0 = now
    val walls = mutable.ArrayBuffer.empty[Double]
    while (walls.size < MinIters || now - t0 < seconds / 2) walls += timed(w.iterate(one, -1))
    ctx.attempted += one.attempted
    ctx.failed += one.failed
    ctx.problems ++= one.problems
    Stats.scalingEfficiency(rowsPerSMany, Stats.ratio(w.rowsPerIter, Stats.median(walls.toSeq)), Cores)
  }
}

/** Marginal noop-sink rungs cut from the engine's own frames: scan, then the
  * constraint conjunction, then the full annotation, then the violation
  * rows and the rollup aggregate on top of it, and, where the input has
  * bytes, the pixel-check decode. Each rung is the median of three runs.
  */
object Ladder {
  def run(t: DataFrame, pc: Option[PixelChecks]): Map[String, Double] = {
    val n = t.count()
    val cs = ImageConstraints.v1
    def ms(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }
    def noop(df: DataFrame): Double =
      Stats.median((1 to 3).map(_ => ms(df.write.format("noop").mode("overwrite").save())))
    val eng = new ValidationEngine(cs)
    val processMs = Stats.median((1 to 5).map(_ => ms(eng.process(t))))
    val res = eng.process(t)
    val scan = noop(t.drop("bytes"))
    val allPass = noop(Compiler.applyFills(t.drop("bytes"), cs).withColumn("_ok", Compiler.allPass(cs)))
    val annotate = noop(res.annotated.drop("bytes"))
    val violations = noop(res.violations)
    val rollup = noop(res.rollups)
    val base = Map(
      "engine.process_ms" -> processMs,
      "engine.scan_ns_per_row" -> Stats.ratio(scan * 1e6, n.toDouble),
      "constraint.allpass_ns_per_row" -> Stats.marginalNsPerRow(allPass, scan, n),
      "engine.annotate_ns_per_row" -> Stats.marginalNsPerRow(annotate, allPass, n),
      "engine.violations_ns_per_row" -> Stats.marginalNsPerRow(violations, annotate, n),
      "engine.rollup_ns_per_row" -> Stats.marginalNsPerRow(rollup, annotate, n))
    pc.fold(base) { p =>
      val decoded = new ValidationEngine(cs, EngineOptions(pixelChecks = Some(p))).process(t).annotated
      base + ("engine.decode_ns_per_row" -> Stats.marginalNsPerRow(noop(decoded.drop("bytes", "_decode")), annotate, n))
    }
  }
}
