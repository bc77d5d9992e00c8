package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One tick of a feed: the lines each topic receives at that tick. */
final case class Tick(files: Seq[(Path, Array[Byte])], events: Int)

object Tick {
  def apply(byTopic: Seq[(Path, Seq[String])]): Tick = Tick(
    byTopic.filter(_._2.nonEmpty).map { case (dir, lines) =>
      dir -> lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    }, byTopic.map(_._2.size).sum)
}

/** Lands pre-encoded topic files. [[land]] writes a batch of ticks at once
  * (warm-up and the pre-landed backlog); [[openLoop]] starts one thread that
  * writes tick k at `start + k * tickMs` whatever the consumer is doing, and
  * records each tick's due and landed wall-clock times. A file appears in
  * its topic only by an atomic rename, so a reader never sees it partial. */
object Feed {
  private def put(dir: Path, seq: Long, bytes: Array[Byte]): Unit = {
    val name = f"part-$seq%08d.json"
    val tmp = dir.resolve(s".$name.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def land(ticks: Seq[Tick], firstSeq: Long): Unit =
    ticks.zipWithIndex.foreach { case (t, i) =>
      t.files.foreach { case (dir, b) => put(dir, firstSeq + i, b) }
    }

  final class OpenLoop(ticks: IndexedSeq[Tick], firstSeq: Long, tickMs: Long)
      extends Thread("graftbench-feeder") {
    val dueMs = new Array[Long](ticks.size)
    val landedMs = new Array[Long](ticks.size)
    @volatile var startMs = 0L
    setDaemon(true)
    override def run(): Unit = {
      ticks.indices.foreach { k =>
        val due = startMs + k * tickMs
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        ticks(k).files.foreach { case (dir, b) => put(dir, firstSeq + k, b) }
        dueMs(k) = due
        landedMs(k) = System.currentTimeMillis()
      }
    }
  }

  def openLoop(ticks: IndexedSeq[Tick], firstSeq: Long, tickMs: Long): OpenLoop = {
    val f = new OpenLoop(ticks, firstSeq, tickMs)
    f.startMs = System.currentTimeMillis() + 20
    f.start()
    f
  }
}

/** One progress record per microbatch of every streaming query. */
final class ProgressLog extends StreamingQueryListener {
  val records = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = records.add(e.progress)

  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = records.asScala.toSeq

  /** Rows `q` has read from its sources. A source a query reads twice
    * (a self-union) reports its rows once per read; it counts once here. */
  def inputRows(q: StreamingQuery): Long =
    all.filter(_.id == q.id).map(p =>
      p.sources.groupBy(_.description).values.map(_.head.numInputRows).sum).sum

  /** Compact per-microbatch records for the trace. */
  def json: Seq[Map[String, Any]] = all.filter(_.numInputRows > 0).map { p =>
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toLong }.toMap
    val st = p.stateOperators
    Map("query" -> Option(p.name).getOrElse(p.id.toString), "batch" -> p.batchId,
      "input_rows" -> p.numInputRows, "duration_ms" -> d,
      "state_rows" -> st.map(_.numRowsTotal).sum,
      "state_bytes" -> st.map(_.memoryUsedBytes).sum,
      "state_commit_ms" -> st.map(_.commitTimeMs).sum,
      "late_dropped" -> st.map(_.numRowsDroppedByWatermark).sum,
      "watermark" -> Option(p.eventTime.get("watermark")))
  }
}

object Sink {
  private val PathField = """"path":"([^"]+)"""".r

  /** Commit wall time (ms) of every data file of a file sink: the time its
    * batch's entry in `_spark_metadata` was written, i.e. when the rows
    * became visible to readers of the sink. */
  def commitTimes(sinkDir: String): Map[String, Long] = {
    val meta = Paths.get(sinkDir, "_spark_metadata")
    if (!Files.isDirectory(meta)) return Map.empty
    val logs = Files.list(meta)
    val entries = try logs.iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("."))
      .toSeq finally logs.close()
    entries.flatMap { log =>
      val mtime = Files.getLastModifiedTime(log).toMillis
      val text = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
      PathField.findAllMatchIn(text).map(m =>
        Paths.get(new java.net.URI(m.group(1))).getFileName.toString -> mtime)
    }.groupBy(_._1).map { case (f, xs) => f -> xs.map(_._2).min }
  }
}

/** The raw result of a stream run, which `run.py` turns into metrics. */
final case class StreamResult(setup: Map[String, Double],
                              drains: Seq[(Long, Double)], latenciesMs: Seq[Double],
                              feeder: Feed.OpenLoop, backlogEnd: Long,
                              attempted: Long, failed: Long, failures: Seq[String],
                              keptFrac: Double, progress: ProgressLog,
                              exec: Map[String, Double], codegen: Map[String, Double],
                              measuredS: Double, stealS: Double) {
  def json(workload: String, trace: Boolean): String = Json(Map(
    "workload" -> workload, "setup" -> setup,
    "drains" -> drains.map { case (n, w) => Map("events" -> n, "wall_s" -> w) },
    "latencies_ms" -> latenciesMs,
    "gen_due_ms" -> feeder.dueMs.toSeq, "gen_landed_ms" -> feeder.landedMs.toSeq,
    "backlog_end" -> backlogEnd, "attempted" -> attempted, "failed" -> failed,
    "failures" -> failures.take(20), "kept_frac" -> keptFrac,
    "microbatches" -> (if (trace) progress.json else Nil),
    "exec" -> exec, "codegen" -> codegen, "measured_s" -> measuredS,
    "steal_s" -> stealS, "peak_rss_mb" -> Proc.peakRssMb))
}

object StreamSetup {
  /** The session with the progress log attached, and in a traced run the
    * execution counters and the code generator's log counter. */
  def start(a: Main.Args): (SparkSession, ProgressLog, Option[ExecCounters]) = {
    val spark = Main.session(a.work)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val counters = if (a.trace) Some(ExecCounters.attach(spark)) else None
    if (a.trace) CodegenLog.attach()
    (spark, log, counters)
  }

  def mkdirs(dirs: Path*): Unit = dirs.foreach(Files.createDirectories(_))
}
