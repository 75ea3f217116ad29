package pipebench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable.ArrayBuffer

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spans kept in memory and written as JSON at the end of a traced run:
  * name, start and end in ms since the run began, and the enclosing span.
  * When tracing is off, `apply` only runs the body. */
final class Spans(enabled: Boolean) {
  private final class Span(val id: Int, val parent: Int, val name: String, val start: Long) {
    var end = -1L
  }
  private val spans = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val t0 = System.nanoTime()

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = new Span(spans.size, open.headOption.getOrElse(-1), name, System.nanoTime() - t0)
      spans += s
      open = s.id :: open
      try body
      finally { s.end = System.nanoTime() - t0; open = open.tail }
    }

  def json: String = spans.map { s =>
    f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.start / 1e6}%.3f,"end_ms":${s.end / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Job, task, CPU and GC totals from the scheduler, plus the wall-clock
  * bounds of the most recent job (the write job of a sink call). */
final class TaskTotals extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val gcMs = new AtomicLong
  @volatile var lastJobStart = 0L
  @volatile var lastJobEnd = 0L
  val jobsEnded = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); lastJobStart = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    lastJobEnd = e.time; jobsEnded.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime); gcMs.addAndGet(m.jvmGCTime)
    }
  }
  def snapshot: Seq[Long] = Seq(jobs.get, tasks.get, cpuNs.get, gcMs.get)

  /** Listener events arrive asynchronously; wait until `n` jobs have ended. */
  def awaitJobsEnded(n: Long): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobsEnded.get < n && System.currentTimeMillis() < deadline) Thread.sleep(2)
  }
}

/** Counts Janino compilations, their milliseconds and whole-stage codegen
  * fallbacks from the log lines Spark writes for each. The two loggers are
  * detached from the console, so the fallback's plan dump stays out of the
  * run's output. */
final class CodegenCounter
    extends AbstractAppender("pipebench-codegen", null, null, true, Property.EMPTY_ARRAY) {
  val compiles = new AtomicLong
  val compileMs = new DoubleAdder
  val fallbacks = new AtomicLong
  private val generated = "Code generated in ([0-9.]+) ms".r.unanchored

  override def append(e: LogEvent): Unit = {
    val m = e.getMessage.getFormattedMessage
    m match {
      case generated(ms) => compiles.incrementAndGet(); compileMs.add(ms.toDouble)
      case _ if m.startsWith("Whole-stage codegen disabled") ||
                m.startsWith("Found too long generated codes") => fallbacks.incrementAndGet()
      case _ => ()
    }
  }
  def snapshot: Seq[Double] = Seq(compiles.get.toDouble, compileMs.sum, fallbacks.get.toDouble)
}

object CodegenCounter {
  def install(): CodegenCounter = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val app = new CodegenCounter
    app.start()
    cfg.addAppender(app)
    Seq("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator",
        "org.apache.spark.sql.execution.WholeStageCodegenExec").foreach { name =>
      val lc = new LoggerConfig(name, Level.INFO, false)
      lc.addAppender(app, Level.INFO, null)
      cfg.addLogger(name, lc)
    }
    ctx.updateLoggers()
    app
  }
}
