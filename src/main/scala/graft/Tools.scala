package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftFunctions, SparkSession}

/** Measurement and evidence tools beside the frozen `Bench`/`Verify`, whose
  * output they leave alone; one main with a subcommand per tool:
  *
  *  - `stages [repeat] [query ...]` — times queries through the NOOP SINK
  *    (computes every column, discards output) and prints per-stage
  *    wall/task/shuffle metrics, so the expensive stage — not just the
  *    expensive query — is identifiable without the UI. Each query runs
  *    `repeat` times (default 2, min printed); no names = all queries.
  *    Each run also prints its whole-stage codegen compiles and janino ms
  *    (deltas of Spark's `CodegenMetrics` compilation-time histogram,
  *    which counts driver and local executors alike): the count is exact,
  *    the ms are count × the histogram's sampled mean, an estimate.
  *  - `plans <tag> [outDir] [query ...]` — writes `explain("formatted")` of
  *    each query to `<outDir>/<query>_<tag>.txt` (default outDir
  *    `plans/r07` under the working directory), so plan-shape claims
  *    (Exchange count, join strategy, PushedFilters) are committable.
  *  - `oracle <dataDir> <outDir> <query>...` — dumps the named queries'
  *    results and a subset `oracle_sql.json` in the layout
  *    `tools/correctness_check.py <outDir> <dataDir> <report>` grades,
  *    against any data dir (e.g. a `ScaledData` 10× materialization).
  *
  * Usage: `sbt "runMain graft.Tools <subcommand> <args...>"`. `stages` and
  * `plans` read SPARK_GRAFT_SF_DIR (the data dir, required) and all three
  * read SPARK_GRAFT_CPUS, as `Bench` does.
  */
object Tools {
  private val usage =
    "usage: graft.Tools stages [repeat] [query ...] | plans <tag> [outDir] [query ...] | " +
      "oracle <dataDir> <outDir> <query>..."

  def main(args: Array[String]): Unit = args.toList match {
    case "stages" :: rest => stages(rest)
    case "plans" :: rest  => plans(rest)
    case "oracle" :: rest => oracle(rest)
    case _ =>
      System.err.println(usage)
      sys.exit(2)
  }

  private def cpus(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  private def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    throw new IllegalArgumentException(s"set SPARK_GRAFT_SF_DIR to a data dir; $usage"))

  private def selected(names: Seq[String]) =
    SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) => names.isEmpty || names.contains(n) }

  /** The one session: local[n], UTC, no UI, quiet; `conf` adds settings. */
  private def session(app: String, n: Int, conf: (String, String)*): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$n]")
      .appName(app)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Bench's layout: shuffle partitions ≥ 8, 16 MB input splits. */
  private def benchSession(app: String): SparkSession = {
    val n = cpus(4)
    session(app, n,
      "spark.sql.shuffle.partitions" -> math.max(n, 8).toString,
      "spark.sql.files.maxPartitionBytes" -> (16L * 1024 * 1024).toString)
  }

  private def stages(args: List[String]): Unit = {
    val repeat = args.headOption.flatMap(_.toIntOption).getOrElse(2)
    val names = args.drop(if (args.headOption.exists(_.toIntOption.isDefined)) 1 else 0)
    val dir = sfDir
    val spark = benchSession("graft-tools-stages")

    // stageId -> (name, wallMs, taskMs, shuffleReadB, shuffleWriteB, inputB)
    val stageStats = new ConcurrentHashMap[Int, (String, Long, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(-1L)
        stageStats.put(si.stageId, (si.name.takeWhile(_ != '\n'), wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead))
      }
    })

    selected(names).foreach { case (name, fn) =>
      def once(printStages: Boolean): (Double, Long, Double) = {
        stageStats.clear()
        spark.sparkContext.setJobDescription(s"noop: $name")
        val (c0, _) = codegen()
        val t0 = System.nanoTime()
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        val (c1, mean) = codegen()
        spark.sparkContext.setJobDescription(null)
        if (printStages) {
          GraftFunctions.drainSharedListeners(spark.sparkContext) // listener bus is async
          stageStats.entrySet().toArray
            .map(_.asInstanceOf[java.util.Map.Entry[Int, (String, Long, Long, Long, Long, Long)]])
            .sortBy(_.getKey)
            .foreach { e =>
              val (n, wall, task, sr, sw, in) = e.getValue
              println(f"  stage ${e.getKey}%4d wall=${wall}%6d ms task=${task}%7d ms " +
                f"shufR=${sr / 1024}%8d KB shufW=${sw / 1024}%8d KB input=${in / 1024}%8d KB  $n%s")
            }
        }
        (dt, c1 - c0, (c1 - c0) * mean)
      }
      val runs = (1 to repeat).map(i => once(printStages = i == repeat))
      val times = runs.map(_._1)
      println(f"[stages] $name%-32s min=${times.min}%7.3f s  runs=${times.map(t => f"$t%.3f").mkString(",")}" +
        s"  compiles=${runs.map(_._2).mkString(",")}" +
        s"  janino_ms~${runs.map(r => f"${r._3}%.0f").mkString(",")} (sampled)")
    }
    spark.stop()
  }

  /** (compiles so far in this JVM, sampled mean janino ms per compile). */
  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  private def plans(args: List[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val outDir = args.lift(1).getOrElse(Paths.get(System.getProperty("user.dir"), "plans", "r07").toString)
    val dir = sfDir
    Files.createDirectories(Paths.get(outDir))
    val spark = benchSession("graft-tools-plans")
    selected(args.drop(2)).foreach { case (name, fn) =>
      val plan =
        try fn(spark, dir).queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"PLAN FAILED: ${e.getMessage}" }
      Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"), plan)
      println(s"[plans] wrote $name ($tag)")
    }
    spark.stop()
  }

  private def oracle(args: List[String]): Unit = {
    require(args.length >= 3, usage)
    val dataDir = args.head
    val outDir = new java.io.File(args(1)).getAbsolutePath
    val names = args.drop(2)
    new java.io.File(outDir).mkdirs()
    val unknown = names.filterNot(SparkEntry.oracleSql.contains)
    require(unknown.isEmpty, s"no oracle for: $unknown")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      names.map(n => s"${Verify.q(n)}: ${Verify.q(SparkEntry.oracleSql(n))}").mkString("{", ",", "}"))
    // Verify's layout: shuffle partitions = cores, default input splits
    val n = cpus(8)
    val spark = session("graft-tools-oracle", n, "spark.sql.shuffle.partitions" -> n.toString)
    names.foreach { name =>
      val tmp = s"$outDir/_tmp_$name"
      SparkEntry.queries(name)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file under $tmp"))
      Files.move(part.toPath, Paths.get(s"$outDir/$name.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      new scala.reflect.io.Directory(new java.io.File(tmp)).deleteRecursively()
      println(s"[oracle] dumped $name")
    }
    spark.stop()
  }
}
