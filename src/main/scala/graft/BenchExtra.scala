package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{GraftFunctions, SparkSession}

/** Optimization-round measurement harness (guide §1.4): times queries with
  * the NOOP SINK (computes every column, discards output) and prints
  * per-stage wall/task/shuffle metrics so the expensive stage — not just
  * the expensive query — is identifiable without the UI. Separate main on
  * purpose: `Bench` is frozen for measurement (driver contract).
  *
  * Usage: `sbt "runMain graft.BenchExtra [repeat] [query ...]"` with
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as for Bench; no query names =
  * all queries. Each query runs `repeat` times (default 2, min is printed).
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val repeat = args.headOption.flatMap(_.toIntOption).getOrElse(2)
    val names = args.drop(if (args.headOption.exists(_.toIntOption.isDefined)) 1 else 0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench-extra")
      .config("spark.sql.shuffle.partitions", math.max(cpus, 8).toString)
      .config("spark.sql.files.maxPartitionBytes", (16L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // stageId -> (name, wallMs, taskMs, shuffleReadB, shuffleWriteB, inputB, records)
    val stages = new ConcurrentHashMap[Int, (String, Long, Long, Long, Long, Long, Long)]()
    val listener = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        val wall = (for (a <- si.submissionTime; b <- si.completionTime) yield b - a).getOrElse(-1L)
        stages.put(si.stageId, (si.name.takeWhile(_ != '\n'), wall, m.executorRunTime,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val todo = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.isEmpty || names.contains(n) }
    todo.foreach { case (name, fn) =>
      def once(printStages: Boolean): Double = {
        stages.clear()
        spark.sparkContext.setJobDescription(s"noop: $name")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        if (printStages) {
          GraftFunctions.drainSharedListeners(spark.sparkContext) // listener bus is async
          val rows = stages.entrySet().toArray
            .map(_.asInstanceOf[java.util.Map.Entry[Int, (String, Long, Long, Long, Long, Long, Long)]])
            .sortBy(_.getKey)
          rows.foreach { e =>
            val (n, wall, task, sr, sw, in, _) = e.getValue
            println(f"  stage ${e.getKey}%4d wall=${wall}%6d ms task=${task}%7d ms " +
              f"shufR=${sr / 1024}%8d KB shufW=${sw / 1024}%8d KB input=${in / 1024}%8d KB  $n%s")
          }
        }
        dt
      }
      val times = (1 to repeat).map(i => once(printStages = i == repeat))
      println(f"[benchextra] $name%-32s min=${times.min}%7.3f s  runs=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
