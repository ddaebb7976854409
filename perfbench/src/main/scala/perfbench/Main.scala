package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** State one benchmark run shares with its workload: the session, the
  * input and scratch directories, the tracer and what was measured. */
final class Run(val spark: SparkSession, val data: String, val work: String,
                val tracer: Tracer) {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, ArrayBuffer.empty) += v

  def count(name: String): Int = samples.get(name).map(_.size).getOrElse(0)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** One measured operation: counted as attempted, timed into each of
    * `sampleAs` on success, counted as failed if it throws. */
  def op[T](kind: String, sampleAs: String*)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"op.$kind")(body)
      val ms = (System.nanoTime() - t0) / 1e6
      sampleAs.foreach(sample(_, ms))
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
        None
    }
  }

  /** An output check: a false result counts the checked operation failed. */
  def expect(ok: Boolean, what: => String): Unit = if (!ok) fail(what)
}

/** One workload: set-up (timed by [[Main]]), one step of the measured
  * loop, a rule for when enough samples exist, and the checks that run
  * after the measured window. */
trait Workload {
  def setup(): Unit
  def step(): Unit
  def enough(minReads: Int): Boolean
  def check(): Unit
}

/**
 * The benchmark's entry point inside the program's JVM. Usage:
 *
 *   perfbench.Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
 *                  <minReads> <resultJson> <spanFile>
 *
 * The measured window lasts `seconds`, or longer until the workload has
 * `minReads` read samples (never past three times `seconds`).
 *
 * Writes the raw measurements to `resultJson`; `perfbench/run.py` turns
 * them into the metrics it prints.
 */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, data, work, secondsArg, traceArg, minReadsArg, resultPath, spanPath) = args
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder(s"perfbench-$workload")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark, trace)
    val run = new Run(spark, data, work, tracer)
    val w: Workload = workload match {
      case "bulk_load" => new BulkLoad(run)
      case "search_serve" => new SearchServe(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupStart = System.nanoTime()
    tracer.span("setup")(w.setup())
    val setupS = (System.nanoTime() - setupStart) / 1e9
    val minReads = minReadsArg.toInt

    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    tracer.runId = "window"
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val hardStop = t0 + (3 * seconds * 1e9).toLong
    while ((System.nanoTime() < deadline || !w.enough(minReads)) && System.nanoTime() < hardStop)
      w.step()
    val windowS = (System.nanoTime() - t0) / 1e9
    val gcS = (gcMs - gc0) / 1000.0

    tracer.runId = "check"
    tracer.span("check")(w.check())
    tracer.write(spanPath)

    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
    val result = Map(
      "workload" -> workload,
      "session_ready_s" -> sessionReadyS,
      "setup_s" -> setupS,
      "window_s" -> windowS,
      "gc_s" -> gcS,
      "peak_rss_kb" -> rssKb,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "failures" -> run.failures,
      "samples" -> run.samples,
      "values" -> run.values,
      "spark_version" -> spark.version,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024))
    val out = new java.io.PrintWriter(resultPath, "UTF-8")
    try out.println(Json.render(result)) finally out.close()
    spark.stop()
  }
}
