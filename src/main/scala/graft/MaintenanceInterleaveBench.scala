package graft

import graft.sources.TableLayout
import org.apache.spark.sql.functions._

import java.nio.file.Files

/**
 * Concurrent QUERY × MAINTENANCE interleave — the dimension
 * [[ConcurrentBench]] leaves out: a shared 100 TB cluster runs the
 * query mix WHILE compaction / upsert / LSM merges / manifest
 * refreshes rewrite partitions on the same session and filesystem.
 * This main runs three workloads concurrently on one session and
 * prints one JSON row:
 *
 *  1. the FULL registry from `SPARK_GRAFT_CONC` threads (cold memos,
 *     per-thread FAIR pools — the [[ConcurrentBench]] shape);
 *  2. a maintenance loop cycling CONTENT-PRESERVING passes against
 *     private copies of the events date layout and the documents
 *     by-source layout (compaction of two dates, an identity upsert
 *     that really stages and swaps, a touched-only LSM cell merge to a
 *     fresh dir, a stats-manifest refresh) — content-preserving so the
 *     readers' expected checksums stay CONSTANT across every swap;
 *  3. layout-reader threads hammering the MUTATING layouts (full-table
 *     checksum, untouched-date slice, stats-pruned band read) with a
 *     bounded retry on transient swap races.
 *
 * Correctness contract printed per reader: `ok` reads that matched the
 * expected checksum, `retries` (a reader caught a partition mid-swap —
 * the documented transient: old, new, or absent-for-one-rename; it
 * re-read and matched), `failures` (exhausted retries or a wrong
 * VALUE — always zero is the gate). Untouched-PARTITION reads assert
 * zero retries too: maintenance may only disturb readers of the
 * partitions it rewrites (file-level isolation receipt).
 *
 *   SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 sbt "runMain graft.MaintenanceInterleaveBench"
 */
object MaintenanceInterleaveBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_CONC", "8").toInt
    val nReaders = sys.env.getOrElse("SPARK_GRAFT_READERS", "2").toInt
    val cycles = sys.env.getOrElse("SPARK_GRAFT_MAINT_CYCLES", "4").toInt
    val spark = GraftSession.builder(GraftSession.cpus(32))
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- private mutating layouts (the cross-JVM layout cache must
    // never be mutated in place — these copies are this run's own)
    val work = Files.createTempDirectory("graft-maint-interleave")
    val eventsDir = s"$work/events_by_date"
    val docsDir = s"$work/docs_by_source"
    val cellBase = s"$work/cells_base"
    val cellSeg = s"$work/cells_seg"
    val events = graft.queries.Tables.events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("value"))
    TableLayout.writeDatePartitioned(events, eventsDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    TableLayout.writeDocumentsSourcePartitioned(spark, docs, docsDir)
    val asg = graft.similarity.Similarity.ivfCellAssignments(
      spark.read.parquet(s"$sfDir/embeddings.parquet"))
    asg.filter(col("vec_id") % 5 =!= 0).repartition(col("cell"))
      .write.partitionBy("cell").parquet(cellBase)
    asg.filter(col("vec_id") % 5 === 0).repartition(col("cell"))
      .write.partitionBy("cell").parquet(cellSeg)

    // expected checksums — constant across content-preserving maintenance
    def eventsSum(d: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val r = d.agg(count(lit(1)),
        coalesce(sum(col("value").cast("long")), lit(0L))).head()
      (r.getLong(0), r.getLong(1))
    }
    val layoutDF = () => TableLayout.readDatePartitioned(spark, eventsDir)
    val expectAll = eventsSum(layoutDF())
    val dates = layoutDF().select(col(TableLayout.dateCol).cast("string"))
      .distinct().collect().map(_.getString(0)).sorted
    val touchedDates = dates.take(2)
    val untouched = dates.drop(2)
    // the untouched slice reads ONLY its own partition directories —
    // a filter over the full layout would still FILE-LIST the touched
    // dirs at read construction (partition pruning happens after
    // listing), re-introducing the swap race this read exists to prove
    // absent
    val untouchedPaths = untouched.map(d =>
      s"$eventsDir/${TableLayout.dateCol}=$d").toIndexedSeq
    def untouchedDF() =
      if (untouchedPaths.isEmpty) layoutDF().filter(lit(false))
      else spark.read.option("basePath", eventsDir)
        .parquet(untouchedPaths: _*)
    val expectUntouched = eventsSum(untouchedDF())
    val expectBand = docs.filter(col("n_chars").between(250, 350))
      .agg(count(lit(1)), sum(col("n_chars"))).head() match {
      case r => (r.getLong(0), r.getLong(1))
    }
    // identity upsert: ALL rows of two touched-date users, unchanged —
    // kept∪updates == original content, but the pass really stages+swaps
    val upsertRows = layoutDF()
      .filter(col(TableLayout.dateCol).cast("string")
        .isin(touchedDates.toIndexedSeq: _*))
      .select(col("user_id"), col("ts"), col("value"))
      .filter(col("user_id") % 97 === 0)
      .collect()
    val upsertDf = spark.createDataFrame(
      spark.sparkContext.parallelize(upsertRows.toIndexedSeq, 4),
      layoutDF().select(col("user_id"), col("ts"), col("value")).schema)
    val upsertKeys = upsertRows.map(_.getLong(0)).distinct

    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val maintErr = new java.util.concurrent.atomic.AtomicReference[String](null)
    var cyclesDone = 0
    val maintThread = new Thread(() => {
      try {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", "maint")
        var c = 0
        while (c < cycles) {
          TableLayout.compactDatePartitions(spark, eventsDir,
            col(TableLayout.dateCol).cast("string")
              .isin(touchedDates.toIndexedSeq: _*))
          // keysSpanDates = false: identity updates never move a row's
          // date, and the flag keeps the pass from probing (and thus
          // rewriting) the same users' rows in the UNTOUCHED dates —
          // which is what keeps this cycle content-preserving AND the
          // untouched-slice readers' zero-retry assert meaningful
          if (upsertKeys.nonEmpty)
            TableLayout.upsertDatePartitions(spark, eventsDir, upsertDf,
              keyCols = Seq("user_id"), keysSpanDates = false)
          TableLayout.mergeCellSegments(spark, cellBase, Seq(cellSeg),
            s"$work/cells_merged_$c", touchedOnly = true)
          TableLayout.refreshFileStats(spark, docsDir,
            Seq("n_chars", "doc_id"))
          c += 1
          cyclesDone = c
        }
      } catch {
        case e: Throwable =>
          maintErr.set(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      } finally stop.set(true)
    }, "maintenance-loop")

    final case class ReaderStats(var ok: Long = 0, var retries: Long = 0,
                                 var failures: Long = 0)
    def readLoop(stats: ReaderStats): Unit = {
      spark.sparkContext.setLocalProperty("spark.scheduler.pool",
        s"reader-${Thread.currentThread().getId}")
      while (!stop.get()) {
        // full-table checksum across swaps: bounded retry on the
        // documented transients (absent-for-one-rename, listed-then-
        // deleted files)
        var attempt = 0
        var matched = false
        while (!matched && attempt < 6) {
          val got = try Some(eventsSum(layoutDF()))
          catch { case scala.util.control.NonFatal(_) => None }
          if (got.contains(expectAll)) matched = true
          else { attempt += 1; stats.retries += 1 }
        }
        if (matched) stats.ok += 1 else stats.failures += 1
        // untouched-date slice: maintenance never rewrites these dirs, so
        // the read must succeed EXACTLY, first try, every time
        val u = try Some(eventsSum(untouchedDF()))
        catch { case scala.util.control.NonFatal(_) => None }
        if (u.contains(expectUntouched)) stats.ok += 1
        else stats.failures += 1
        // stats-pruned band read across manifest refreshes
        var bandAttempt = 0
        var bandOk = false
        while (!bandOk && bandAttempt < 6) {
          val got = try {
            val r = TableLayout.readStatsPruned(spark, docsDir,
                Seq(("n_chars", 250, 350)))
              .agg(count(lit(1)), sum(col("n_chars"))).head()
            Some((r.getLong(0), r.getLong(1)))
          } catch { case scala.util.control.NonFatal(_) => None }
          if (got.contains(expectBand)) bandOk = true
          else { bandAttempt += 1; stats.retries += 1 }
        }
        if (bandOk) stats.ok += 1 else stats.failures += 1
      }
    }
    val readerStats = Seq.fill(nReaders)(ReaderStats())
    val readers = readerStats.zipWithIndex.map { case (s, i) =>
      new Thread(() => readLoop(s), s"layout-reader-$i")
    }

    // ---- ANN lifecycle thread (r17): the full operating loop — drifted
    // ingest generations, REAL-policy retrains, atomic swaps, live-dir
    // compaction — with its own racing serve-verify loop, all while the
    // registry, the maintenance cycles and the layout readers above
    // hammer the same session (the BASELINE.md r16 swap receipt raced
    // ONE publish on an idle session; this is the production regime)
    val annStats = new java.util.concurrent.atomic
      .AtomicReference[graft.similarity.AnnLifecycleLoad.Stats](null)
    val annThread = new Thread(() => {
      annStats.set(graft.similarity.AnnLifecycleLoad.run(spark,
        s"$work/ann", spark.read.parquet(s"$sfDir/embeddings.parquet")
          .select(col("vec_id"), col("embedding")),
        targetSwaps = 2, schedulerPool = Some("ann-lifecycle")))
    }, "ann-lifecycle")

    // ---- the full registry, concurrently, while the above run
    val order = SparkEntry.queries.toSeq
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val t0 = System.nanoTime()
    maintThread.start()
    readers.foreach(_.start())
    annThread.start()
    val futures = order.map { case (name, fn) =>
      pool.submit(new java.util.concurrent.Callable[Option[(String, String)]] {
        override def call(): Option[(String, String)] = {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool",
            s"fair-${Thread.currentThread().getId}")
          try { fn(spark, sfDir).count(); None }
          catch { case e: Throwable =>
            Some(name -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        }
      })
    }
    val queryErrs = futures.flatMap(_.get())
    val querySec = (System.nanoTime() - t0) / 1e9
    maintThread.join()
    readers.foreach(_.join())
    annThread.join()
    val wallSec = (System.nanoTime() - t0) / 1e9
    pool.shutdown()

    def esc(s: String): String =
      s.flatMap { case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
                  case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString }
    val errJson = queryErrs
      .map { case (k, m) => "\"" + k + "\":\"" + esc(m) + "\"" }
      .mkString("{", ",", "}")
    val rdJson = readerStats.map(s =>
      s"""{"ok":${s.ok},"retries":${s.retries},"failures":${s.failures}}""")
      .mkString("[", ",", "]")
    println(s"""{"queries":${order.size},"threads":$nThreads,""" +
      s""""query_sec":$querySec,"wall_sec":$wallSec,""" +
      s""""maint_cycles":$cyclesDone,""" +
      s""""maint_error":${Option(maintErr.get()).map(e => "\"" + esc(e) + "\"").getOrElse("null")},""" +
      s""""query_errors":$errJson,"readers":$rdJson,""" +
      s""""ann_lifecycle":${Option(annStats.get()).map(_.json).getOrElse("null")},""" +
      s""""sf":"$sfDir"}""")
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    spark.stop()
  }
}
