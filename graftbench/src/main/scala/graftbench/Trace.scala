package graftbench

import scala.collection.mutable

import org.apache.spark.GraftBenchAccess
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graftbench.Stats.Span

/** Engine counters, read at span boundaries in the traced run only:
  * Spark scheduler and task metrics (a SparkListener), codegen compiles
  * and file-listing activity (Spark's static metric sources). */
final class EngineCounters extends SparkListener {
  private val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
  private val stageSubmitted = mutable.Map[Int, Long]()

  private def add(k: String, v: Double): Unit = synchronized { acc(k) += v }

  override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc("spark.stages") += 1
    stageSubmitted.remove(e.stageInfo.stageId)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val mb = 1024.0 * 1024.0
    acc("spark.tasks") += 1
    if (e.taskInfo.failed || e.taskInfo.killed) acc("spark.task_failures") += 1
    stageSubmitted.get(e.stageId).foreach { t =>
      acc("spark.scheduler_delay_s") += math.max(0L, e.taskInfo.launchTime - t) / 1e3
    }
    Option(e.taskMetrics).foreach { m =>
      acc("spark.task_run_s") += m.executorRunTime / 1e3
      acc("spark.task_cpu_s") += m.executorCpuTime / 1e9
      acc("spark.gc_s") += m.jvmGCTime / 1e3
      acc("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / mb
      acc("spark.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / mb
      acc("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / mb
      acc("spark.input_mb") += m.inputMetrics.bytesRead / mb
      acc("spark.output_mb") += m.outputMetrics.bytesWritten / mb
    }
  }

  def snapshot(): Map[String, Double] = synchronized {
    acc.toMap ++ EngineCounters.codegen() ++ Map(
      "Tables.files_discovered" -> HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount.toDouble,
      "Tables.filecache_hits" -> HiveCatalogMetrics.METRIC_FILE_CACHE_HITS.getCount.toDouble)
  }
}

object EngineCounters {
  /** Codegen compiles and compile seconds so far in this JVM (Spark's
    * codegen cache is JVM-wide, so only a cold JVM's set-up compiles much). */
  def codegen(): Map[String, Double] = Map(
    "plans.codegen_compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "plans.codegen_compile_s" -> CodeGenerator.compileTime / 1e9)
}

/** Span recorder for the traced run. Spans are kept in memory and
  * written out once, at the end of the run; the untraced run uses
  * [[Tracer.off]], whose `span` only evaluates its body. */
class Tracer private (spark: Option[SparkSession]) {
  val enabled: Boolean = spark.isDefined
  private val counters = new EngineCounters
  spark.foreach(_.sparkContext.addSparkListener(counters))
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var opId = 0

  /** Start a new operation: spans until the next call share its id. */
  def nextOp(): Unit = opId += 1

  private def read(): Map[String, Double] = spark match {
    case Some(s) =>
      GraftBenchAccess.drainListenerBus(s.sparkContext)
      counters.snapshot()
    case None => Map.empty
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val c0 = read()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        val c1 = read()
        stack = stack.tail
        val delta = c1.map { case (k, v) => k -> (v - c0.getOrElse(k, 0.0)) }
        spans += Span(id, parent, opId, layer, name, t0, t1, delta)
      }
    }

  def recorded: Seq[Span] = spans.toSeq

  def writeTo(file: java.io.File): Unit = {
    val lines = spans.map { s =>
      Stats.json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "counters" -> s.counters))
    }
    java.nio.file.Files.write(file.toPath, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def detach(): Unit = spark.foreach(_.sparkContext.removeSparkListener(counters))
}

object Tracer {
  val off: Tracer = new Tracer(None)
  def on(spark: SparkSession): Tracer = new Tracer(Some(spark))
}
