package graftbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Execution counters from Spark's public listener API. Read with
  * [[snapshot]] after [[sync]], which waits until the listener bus has
  * delivered every event posted so far. */
final class ExecCounters extends SparkListener {
  private val jobs, stages, tasks, emptyTasks = new AtomicLong
  private val runMs, cpuNs, gcMs, shuffleBytes, spillBytes = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      if (m.inputMetrics.recordsRead == 0L && m.shuffleReadMetrics.recordsRead == 0L)
        emptyTasks.incrementAndGet()
    }
  }

  def snapshot: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
    "tasks" -> tasks.get.toDouble, "empty_tasks" -> emptyTasks.get.toDouble,
    "task_run_s" -> runMs.get / 1e3, "task_cpu_s" -> cpuNs.get / 1e9,
    "gc_s" -> gcMs.get / 1e3, "shuffle_mb" -> shuffleBytes.get / 1048576.0,
    "spill_mb" -> spillBytes.get / 1048576.0)
}

object ExecCounters {
  def attach(spark: SparkSession): ExecCounters = {
    val c = new ExecCounters
    spark.sparkContext.addSparkListener(c)
    c
  }
  def sync(spark: SparkSession): Unit =
    org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** Counts Janino compiles and their time from the code generator's own
  * log lines ("Code generated in N ms"), and compile failures that fell
  * back to interpreted evaluation ("Failed to compile ..."). The appender
  * only counts; it never fails a run. */
object CodegenLog {
  val compiles = new AtomicLong
  val failures = new AtomicLong
  val compileMs = new DoubleAdder
  private val Generated = """Code generated in ([0-9.]+) ms""".r.unanchored
  private val LoggerName =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  private final class Counter extends AbstractAppender("graftbench-codegen",
      null, null, true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val msg = e.getMessage.getFormattedMessage
      msg match {
        case Generated(ms) => compiles.incrementAndGet(); compileMs.add(ms.toDouble)
        case m if m.startsWith("Failed to compile") => failures.incrementAndGet()
        case _ =>
      }
    }
  }

  /** Attach once per process, after the session has set its log levels. */
  def attach(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new Counter
    app.start()
    Configurator.setLevel(LoggerName, Level.INFO)
    val cfg = ctx.getConfiguration.getLoggerConfig(LoggerName)
    cfg.addAppender(app, Level.INFO, null)
    ctx.updateLoggers()
  }

  def snapshot: Map[String, Double] = Map(
    "compiles" -> compiles.get.toDouble, "compile_s" -> compileMs.sum / 1e3,
    "compile_failures" -> failures.get.toDouble)
}

object Proc {
  /** Peak resident set of this process in MB (VmHWM), or -1 off Linux. */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists) -1.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
      finally src.close()
    }
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** CPU seconds the hypervisor has stolen from this machine's CPUs since
    * boot (the `steal` column of /proc/stat, in 1/100 s), or 0 where the
    * kernel does not report it. */
  def stealS: Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try {
        val cols = src.getLines().next().trim.split("\\s+")
        if (cols.length > 8) cols(8).toDouble / 100.0 else 0.0
      } finally src.close()
    }
  }
}

/** Minimal JSON rendering for the raw result file. */
object Json {
  /** Already-rendered JSON, embedded as is. */
  final case class Raw(json: String)

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }.mkString("\"", "", "\"")

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Raw(j) => j
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case other => str(other.toString)
  }
}
