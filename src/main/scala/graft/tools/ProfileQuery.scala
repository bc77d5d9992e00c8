package graft.tools

import graft.GraftSession
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Per-JOB wall breakdown of one registered query — the measurement tool
 * the optimization guide's §1 loop needs when the Spark UI is off: for
 * the named query it prints every job the timed `count()` submits (job
 * id, wall, #stages, #tasks, description), so a 16-second query wall
 * decomposes into "which of its N sequential jobs costs what" instead
 * of a single opaque number.
 *
 * Usage: sbt "runMain graft.tools.ProfileQuery <sfDir> <query> [reps]"
 * Runs under [[graft.GraftSession]], the session config graft.Bench
 * times, so the walls are comparable with bench rows; the warmup pass
 * (same query at the warm dir) separates codegen/planning first-touch
 * cost exactly as the bench does.
 */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args.lift(1).getOrElse("ctr_by_campaign")
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession.builder(GraftSession.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class JobRow(id: Int, desc: String, start: Long,
                            var end: Long = 0L, var stages: Int = 0,
                            var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.put(e.jobId, JobRow(e.jobId, desc, e.time))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute to the newest live job; good enough for serial queries
        val r = jobs.values().toArray(Array.empty[JobRow])
          .filter(j => j.end == 0L).sortBy(-_.id).headOption
        r.foreach { j => j.stages += 1; j.tasks += e.stageInfo.numTasks }
        val si = e.stageInfo
        val w = (for (s <- si.submissionTime; c <- si.completionTime)
          yield (c - s) / 1e3).getOrElse(Double.NaN)
        if (!w.isNaN && w > 0.3) {
          val m = si.taskMetrics
          println(f"[profile]     STAGE ${si.stageId}%3d $w%7.3f s tasks=${si.numTasks}%4d " +
            f"run=${m.executorRunTime / 1e3}%.2f deser=${m.executorDeserializeTime / 1e3}%.2f " +
            f"gc=${m.jvmGCTime / 1e3}%.2f cpu=${m.executorCpuTime / 1e9}%.2f " +
            f"srIn=${m.shuffleReadMetrics.totalBytesRead} swOut=${m.shuffleWriteMetrics.bytesWritten} " +
            si.name.take(60))
        }
      }
    }

    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    // Warmup at the warm dir (codegen compile), mirroring Bench.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR",
      "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir) {
      try fn(spark, warmDir).count()
      catch { case scala.util.control.NonFatal(_) => () }
      graft.queries.SharedFrames.clear(spark)
      spark.catalog.clearCache()
    }
    spark.sparkContext.addSparkListener(listener)
    (1 to reps).foreach { rep =>
      jobs.clear()
      // rep 1 pays memo builds (the bench's "built" cost); rep 2 shows
      // the steady-state wall off warm memos.
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // let the listener bus drain
      println(f"[profile] $name rep=$rep wall=$sec%.3f s, jobs=${jobs.size}")
      jobs.values().toArray(Array.empty[JobRow]).sortBy(_.id).foreach { j =>
        val w = if (j.end > 0) (j.end - j.start) / 1e3 else Double.NaN
        println(f"[profile]   job ${j.id}%3d ${w}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(90)}")
      }
    }
    spark.stop()
  }
}
