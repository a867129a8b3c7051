package perfbench

import java.util.concurrent.atomic.DoubleAdder
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative per-layer counters at one instant, keyed by metric name. */
final case class Counters(values: Map[String, Double]) {
  def apply(k: String): Double = values.getOrElse(k, 0.0)
  def jobs: Double = apply("sched.jobs")
  def -(o: Counters): Counters =
    Counters((values.keySet ++ o.values.keySet).iterator
      .map(k => k -> (apply(k) - o(k))).toMap)
}

/** Observes Spark from outside, through its public listener APIs:
  * `SparkListener` (jobs, stages, task metrics), `QueryExecutionListener`
  * (Catalyst phase times) and `CodegenMetrics` (compile count). Compile
  * time comes from CodeGenerator's own "Code generated in N ms" log line,
  * because the `CodegenMetrics` histogram keeps only a sample of values.
  *
  * `attach(false)` removes every hook, so untraced passes run exactly as
  * an untraced benchmark would.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val totals = mutable.HashMap.empty[String, Double]
  private val jobStarts = mutable.HashMap.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long)]
  private var attached = false

  private def add(k: String, v: Double): Unit = synchronized {
    totals(k) = totals.getOrElse(k, 0.0) + v
  }

  def attach(on: Boolean): Unit = if (on != attached) {
    drain()
    if (on) {
      spark.sparkContext.addSparkListener(this)
      spark.listenerManager.register(this)
      Tracer.compileLog.attach()
    } else {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
      Tracer.compileLog.detach()
    }
    attached = on
  }

  private def drain(): Unit = ListenerBus.drain(spark.sparkContext)

  /** Waits for queued listener events, then copies the totals. */
  def snapshot(): Counters = {
    drain()
    synchronized {
      Counters(totals.toMap ++ Map(
        "codegen.compiles" -> Tracer.compiles().toDouble,
        "codegen.compile_ms" -> Tracer.compileLog.totalMs))
    }
  }

  /** Seconds of [fromMs, toMs] during which at least one job ran. */
  def jobCoverageS(fromMs: Long, toMs: Long): Double = synchronized {
    val clipped = jobSpans.iterator
      .map { case (s, e) => (s max fromMs, e min toMs) }
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L; var end = fromMs
    clipped.foreach { case (s, e) =>
      if (e > end) { covered += e - (s max end); end = e }
    }
    covered / 1000.0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
    add("sched.jobs", 1)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStarts.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add("sched.stages", 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("sched.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_run_s", m.executorRunTime / 1e3)
      add("exec.task_cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.spill_bytes", m.diskBytesSpilled.toDouble)
      add("sources.bytes_written", m.outputMetrics.bytesWritten.toDouble)
      add("sources.bytes_read", m.inputMetrics.bytesRead.toDouble)
    }
  }

  /** Analysis runs eagerly while `fn(spark, sfDir)` builds its DataFrame,
    * so that phase is read from the returned frame's own tracker; the
    * sink's execution reports the rest to the listener. */
  def constructed(df: DataFrame): Unit =
    add("catalyst.analysis_ms", df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs.toDouble).getOrElse(0.0))

  private def phases(qe: QueryExecution): Unit = {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { k =>
      add(s"catalyst.${k}_ms", p.get(k).map(_.durationMs.toDouble).getOrElse(0.0))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)
}

object Tracer {
  /** Whole-stage and expression classes compiled by Janino so far (JVM-wide). */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Sums the "Code generated in N ms" lines CodeGenerator logs at INFO. */
  private[perfbench] object compileLog {
    private val logger =
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    private val Line = """Code generated in ([0-9.]+) ms""".r.unanchored
    private val ms = new DoubleAdder
    private lazy val appender = {
      val a = new AbstractAppender("perfbench-codegen", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          e.getMessage.getFormattedMessage match {
            case Line(v) => ms.add(v.toDouble)
            case _ =>
          }
      }
      a.start()
      a
    }
    def totalMs: Double = ms.sum()
    def attach(): Unit = {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val lc = new LoggerConfig(logger, Level.INFO, false)
      lc.addAppender(appender, Level.INFO, null)
      ctx.getConfiguration.addLogger(logger, lc)
      ctx.updateLoggers()
    }
    def detach(): Unit = {
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      ctx.getConfiguration.removeLogger(logger)
      ctx.updateLoggers()
    }
  }
}
