package graft

/**
 * Concurrency harness for the query registry — the bench's missing
 * dimension: `graft.Bench` runs the registry SERIALLY, but a shared
 * 100 TB cluster runs queries concurrently, where shared-state
 * contention (memo cells building under demand from several threads,
 * persisted indexes read while another query persists its own, the
 * scheduler interleaving stages) can surface failure modes a serial
 * run never exercises. This main runs the FULL registry twice on one
 * session — serially (cold memos, the Bench shape) and then
 * concurrently from `SPARK_GRAFT_CONC` threads (cold memos again, FAIR
 * scheduler so no query starves) — and prints one JSON line with the
 * serial sum, the concurrent wall, and any errors (zero is the
 * contract; the [[graft.queries.SharedFrames]] cell design — per-cell
 * build locks, map lock held only for lookup — is what this validates
 * under real demand).
 *
 *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt "runMain graft.ConcurrentBench"
 */
object ConcurrentBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_CONC", "8").toInt
    val spark = GraftSession.builder(GraftSession.cpus(32))
      // FAIR: concurrent queries share executor slots round-robin
      // instead of FIFO head-of-line blocking behind the first heavy job
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val order = SparkEntry.queries.toSeq

    // untimed codegen/planning warmup at the small dir (the Bench idiom)
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      order.foreach { case (_, fn) =>
        try fn(spark, warmDir).count()
        catch { case scala.util.control.NonFatal(_) => () }
      }
    def reset(): Unit = {
      graft.queries.SharedFrames.clear(spark)
      spark.catalog.clearCache()
      System.gc()
    }
    reset()

    // serial pass, cold memos — the Bench shape
    val serialT0 = System.nanoTime()
    val serialErrs = order.flatMap { case (name, fn) =>
      try { fn(spark, sfDir).count(); None }
      catch { case e: Throwable =>
        Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val serialSec = (System.nanoTime() - serialT0) / 1e9
    reset()

    // concurrent pass, cold memos again: every shared frame/codebook is
    // built under concurrent demand — the contention the serial run hides
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val concT0 = System.nanoTime()
    val futures = order.map { case (name, fn) =>
      pool.submit(new java.util.concurrent.Callable[Option[(String, String)]] {
        override def call(): Option[(String, String)] = {
          // one pool PER SUBMITTER THREAD: FAIR scheduling applies
          // BETWEEN pools (an unconfigured pool is FIFO inside), so a
          // single shared pool would reintroduce head-of-line blocking
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            s"fair-${Thread.currentThread().getId}")
          try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable =>
            Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        }
      })
    }
    val concErrs = futures.flatMap(_.get())
    val concSec = (System.nanoTime() - concT0) / 1e9
    pool.shutdown()

    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                  case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    def errJson(errs: Seq[(String, String)]): String =
      errs.map { case (k, m) => "\"" + k + "\":\"" + esc(m) + "\"" }
        .mkString("{", ",", "}")
    println(s"""{"queries":${order.size},"threads":$nThreads,""" +
      s""""serial_sec":$serialSec,"concurrent_sec":$concSec,""" +
      s""""speedup":${serialSec / concSec},""" +
      s""""serial_errors":${errJson(serialErrs)},""" +
      s""""concurrent_errors":${errJson(concErrs)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
