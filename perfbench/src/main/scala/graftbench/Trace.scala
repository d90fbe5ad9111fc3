package graftbench

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{BenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into the library. `runId` is the measured iteration the
  * span belongs to; `parent` is 0 for a top-level span.
  */
final case class Span(id: Int, parent: Int, runId: Int, name: String, layer: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side work attributed to one span. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
}

/** Attributes jobs and tasks to spans by job tag. The library sets its own
  * job groups (ValidationJob names one per phase), which would overwrite a
  * group set here; tags survive that, and a job carries the tags of every
  * open span, so the innermost one (the highest id) owns it.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = TrieMap.empty[Int, Int]
  val counters = TrieMap.empty[Int, Counters]

  private def c(span: Int): Counters = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val tags = Option(js.properties).flatMap(p => Option(p.getProperty(BenchBus.JobTagsProperty))).getOrElse("")
    val ids = tags.split(BenchBus.JobTagsSep).toSeq.collect {
      case t if t.startsWith(Tracer.TagPrefix) => t.stripPrefix(Tracer.TagPrefix).toInt
    }
    ids.maxOption.foreach { span =>
      js.stageIds.foreach(stageSpan.put(_, span))
      c(span).synchronized(c(span).jobs += 1)
    }
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    stageSpan.get(te.stageId).foreach { span =>
      val k = c(span)
      k.synchronized {
        k.tasks += 1
        Option(te.taskMetrics).foreach { m =>
          k.taskMs += m.executorRunTime
          k.inputBytes += m.inputMetrics.bytesRead
          k.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          k.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}

/** Records a span around each public library call when enabled; a disabled
  * tracer only runs the body. Spans stay in memory until [[write]].
  */
final class Tracer(sc: SparkContext) {
  private var enabled = false
  private var nextId = 1
  private var runId = 0
  private val open = mutable.Stack.empty[Int]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new SpanListener
  private var listening = false

  /** Starts iteration `id`; its calls get spans only when `traced`. */
  def beginRun(id: Int, traced: Boolean): Unit = {
    runId = id
    enabled = traced
    if (traced && !listening) { sc.addSparkListener(listener); listening = true }
  }

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(0)
      val tag = Tracer.TagPrefix + id
      open.push(id)
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(tag)
        open.pop()
        spans += Span(id, parent, runId, name, layer, t0, t1)
      }
    }

  /** Drains the listener bus, then returns each span's counters. */
  def counters(): Map[Int, Counters] = {
    if (listening) BenchBus.drain(sc)
    listener.counters.toMap
  }

  def close(): Unit = if (listening) { BenchBus.drain(sc); sc.removeSparkListener(listener); listening = false }

  /** Self time in ms of every span: its duration minus its children's. */
  def selfMs(): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> Stats.selfTime(s.startNs, s.endNs, kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).toSeq) / 1e6
    }.toMap
  }

  def write(path: java.nio.file.Path, header: Map[String, Any], runs: Seq[Map[String, Any]]): Unit = {
    val cs = counters()
    val self = selfMs()
    val rows = spans.sortBy(_.id).map { s =>
      val k = cs.getOrElse(s.id, new Counters)
      Map[String, Any](
        "run_id" -> s.runId, "span_id" -> s.id, "parent_id" -> s.parent, "name" -> s.name, "layer" -> s.layer,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "ms" -> s.ms, "self_ms" -> self(s.id),
        "task_ms" -> k.taskMs, "input_bytes" -> k.inputBytes, "shuffle_write_bytes" -> k.shuffleWriteBytes,
        "output_bytes" -> k.outputBytes, "jobs" -> k.jobs, "tasks" -> k.tasks
      )
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, Json(header ++ Map("runs" -> runs, "spans" -> rows.toSeq)) + "\n")
  }
}

object Tracer {
  val TagPrefix = "graftbench-span-"
}

/** Minimal JSON writer for the result and trace files. */
object Json {
  def apply(v: Any): String = v match {
    case null                 => "null"
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_]      => xs.map(apply).mkString("[", ",", "]")
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}
