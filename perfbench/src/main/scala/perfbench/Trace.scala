package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/** Minimal JSON rendering for the run record and the span file. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
}

/** Task counters of one stage, summed over the tasks that ran under one span. */
final class StageAgg(val stageId: Int, var name: String) {
  var tasks = 0L
  var failed = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val durations = ArrayBuffer.empty[Long]

  def toMap: Map[String, Any] = {
    val sorted = durations.sorted
    Map("id" -> stageId, "name" -> name, "tasks" -> tasks, "failed" -> failed,
      "run_ms" -> runMs, "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
      "input_bytes" -> inputBytes, "shuffle_read" -> shuffleRead,
      "shuffle_write" -> shuffleWrite, "spill" -> spill,
      "max_task_ms" -> sorted.lastOption.getOrElse(0L),
      "median_task_ms" -> (if (sorted.isEmpty) 0L else sorted(sorted.size / 2)))
  }
}

/**
 * Span recorder for the traced run. A span covers one call into the
 * program; the innermost open span's id travels to Spark as a local
 * job property, so the listener below files every job, stage and task
 * under the span that caused it. Spans stay in memory and are written
 * once, when the run ends. With tracing off, `span` only runs its body.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val Key = "perfbench.span"
  private val t0Nano = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Wall clock in epoch milliseconds with sub-millisecond resolution,
    * comparable with the event times Spark's listener reports. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nano) / 1e6

  final class Span(val id: Int, val name: String, val parent: Int, val run: String,
                   val start: Double) {
    var end = 0.0
    val extra = mutable.LinkedHashMap.empty[String, Double]
  }

  /** Which part of the run new spans belong to: setup, window or check. */
  var runId = "setup"
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), runId, nowMs)
      spans += s
      stack = s :: stack
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Key)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.end = nowMs
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Attach a count measured by the benchmark to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.extra(key) = value)

  private object Listener extends SparkListener {
    val stageSpan = mutable.Map.empty[Int, Int]
    val stageNames = mutable.Map.empty[Int, String]
    val jobStart = mutable.Map.empty[Int, (Int, Long)]
    val jobs = ArrayBuffer.empty[(Int, Long, Long)]
    val aggs = mutable.LinkedHashMap.empty[(Int, Int), StageAgg]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Key))).map(_.toInt)
      sp.foreach { s =>
        jobStart(e.jobId) = (s, e.time)
        e.stageIds.foreach(stageSpan.getOrElseUpdate(_, s))
        e.stageInfos.foreach(i => stageNames(i.stageId) = i.name)
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t) => jobs += ((s, t, e.time)) }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        val a = aggs.getOrElseUpdate((s, e.stageId),
          new StageAgg(e.stageId, stageNames.getOrElse(e.stageId, "")))
        a.tasks += 1
        if (!e.taskInfo.successful) a.failed += 1
        a.durations += e.taskInfo.duration
        val m = e.taskMetrics
        if (m != null) {
          a.runMs += m.executorRunTime
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.inputBytes += m.inputMetrics.bytesRead
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  if (enabled) spark.sparkContext.addSparkListener(Listener)

  /** Write every span, one JSON object a line, with the jobs and per-stage
    * task counters filed under it. */
  def write(path: String): Unit = if (enabled) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val out = new java.io.PrintWriter(path, "UTF-8")
    try Listener.synchronized {
      val jobsBySpan = Listener.jobs.groupBy(_._1)
      val aggsBySpan = Listener.aggs.groupBy(_._1._1)
      spans.foreach { s =>
        out.println(Json.render(Map(
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
          "start_ms" -> s.start, "end_ms" -> s.end,
          "jobs" -> jobsBySpan.getOrElse(s.id, Nil).map(j => Seq(j._2, j._3)),
          "stages" -> aggsBySpan.getOrElse(s.id, Map.empty).values.map(_.toMap),
          "extra" -> s.extra)))
      }
    } finally out.close()
  }
}
