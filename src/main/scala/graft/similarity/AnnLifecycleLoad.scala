package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong, AtomicReference}

/**
 * The ANN lifecycle run UNDER LOAD — the r16 verdict's ask #5:
 * the r16 swap receipt (BASELINE.md "Drift-triggered retrain + atomic
 * hot swap") raced a serve loop against ONE publish on an otherwise idle
 * session; production retrains fire while the full query
 * registry hammers the session and maintenance passes rewrite layouts.
 * This harness drives the complete operating loop — publish v1, then
 * per generation: ingest a drifted arrival batch, stop, controller
 * evaluation (REAL policy thresholds — the drift monitor and share
 * budget genuinely fire), swap, [[AnnLifecycle.compactLive]] — while
 * its own serve-verify thread races every phase, and returns the
 * receipts (swaps fired, serves validated, mixed results, errors) for
 * the caller to assert or print. MaintenanceInterleaveBench runs it
 * beside the 8-thread registry + maintenance + layout-reader regime;
 * MaintenanceInterleaveSpec pins the CI-sized contract.
 *
 * Verification discipline (what "mixed" means): a serve is VALIDATED
 * when it ran entirely inside a quiescent window — ingest stopped, so
 * generation state is frozen (windows are tracked by a stability flag
 * + an epoch counter; a serve spanning a feed start/stop is counted
 * `unverified` instead — its live slice was legitimately growing).
 * Every validated serve must row-equal its OWN generation's expected
 * output, where expected(v) is refreshed at each quiescent boundary
 * (post-publish: snapshot only; post-feed: snapshot ∪ frozen live(v)).
 * Serves racing the retrain+swap itself are all validated — that is
 * the never-a-mix window the manifest flip must protect. Zero mixed,
 * zero serve exceptions is the gate.
 */
object AnnLifecycleLoad {

  final case class Stats(swapsFired: Int, compactions: Int,
                         servesValidated: Long, servesUnverified: Long,
                         mixed: Long, serveErrors: Long,
                         error: Option[String]) {
    def json: String =
      s"""{"swaps_fired":$swapsFired,"compactions":$compactions,""" +
        s""""serves_validated":$servesValidated,""" +
        s""""serves_unverified":$servesUnverified,""" +
        s""""mixed_results":$mixed,"serve_errors":$serveErrors,""" +
        s""""error":${error.map(e => "\"" + e.replace("\"", "'") + "\"")
          .getOrElse("null")}}"""
  }

  /**
   * Blocks until `targetSwaps` retrains fired (or `maxGens` ingest
   * generations elapsed). `embeddings` is the base corpus
   * (vec_id, embedding); arrival batches are 2×-base drifted draws with
   * per-generation increasing shift so the REAL policy keeps firing as
   * earlier drift is absorbed into the snapshot.
   */
  def run(spark: SparkSession, workDir: String, embeddings: DataFrame,
          targetSwaps: Int = 2, maxGens: Int = 4, nCells: Int = 16,
          nProbe: Int = 4, nQ: Int = 8,
          schedulerPool: Option[String] = None): Stats = {
    val dir = s"$workDir/ann_index"
    val topic = s"$workDir/ann_topic"
    val ck = s"$workDir/ann_ck"
    Files.createDirectories(Paths.get(topic))
    val emb = embeddings
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nBase = emb.count()

    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet

    val expected =
      new java.util.concurrent.ConcurrentHashMap[Int, Set[(Long, Long, Double, Int)]]()
    def refreshExpected(v: Int): Unit =
      expected.put(v, rows(AnnLifecycle.serveTopKAt(spark, dir, v, emb, nQ,
        5, nCells, nProbe)))

    val stable = new AtomicBoolean(false)
    val epoch = new AtomicInteger(0)
    val stop = new AtomicBoolean(false)
    val validated = new AtomicLong(0)
    val unverified = new AtomicLong(0)
    val mixed = new AtomicLong(0)
    val serveErrors = new AtomicLong(0)

    val server = new Thread(() => {
      schedulerPool.foreach(p => spark.sparkContext
        .setLocalProperty("spark.scheduler.pool", s"$p-serve"))
      while (!stop.get()) {
        val (s0, e0) = (stable.get(), epoch.get())
        try {
          val (v, df) = AnnLifecycle.serveTopK(spark, dir, emb, nQ, 5,
            nCells, nProbe)
          val got = rows(df)
          val (s1, e1) = (stable.get(), epoch.get())
          val want = expected.get(v)
          if (s0 && s1 && e0 == e1 && want != null) {
            if (got == want) validated.incrementAndGet()
            else mixed.incrementAndGet()
          } else unverified.incrementAndGet()
        } catch {
          case scala.util.control.NonFatal(_) => serveErrors.incrementAndGet()
        }
      }
    }, "ann-serve-verify")

    var swaps = 0
    var compactions = 0
    var err: Option[String] = None
    try {
      schedulerPool.foreach(p => spark.sparkContext
        .setLocalProperty("spark.scheduler.pool", p))
      val cells1 = Similarity.freezeAnnIndex(emb, nCells).get.cells.toArray
      AnnLifecycle.publish(spark, dir, 1, cells1, emb)
      refreshExpected(1)
      stable.set(true)
      server.start()
      var g = 1
      while (swaps < targetSwaps && g <= maxGens) {
        // feed window: live(g) grows — serves keep running, unverified
        epoch.incrementAndGet()
        stable.set(false)
        // each generation drifts a FRESH 16-dim band (see freshShifted's
        // dimOffset scaladoc) AND harder than the last: once generation
        // 1's wide hash-noise rows are absorbed, std_old inflates ~3×
        // over the testdata base (measured: z 4.4 -> 1.3 at the same
        // delta), so a monitor reading shift/std_old needs a growing
        // shift to keep clearing its threshold on genuinely-new drift
        val arrivals = graft.fixtures.Embeddings
          .freshShifted(spark, 2 * nBase,
            delta = 0.35 + 0.9 * (g - 1),
            dimOffset = 16 * ((g - 1) % 4))
          .select((col("vec_id") + lit(g * 10000000L)).as("vec_id"),
            col("embedding").cast("array<double>").as("embedding"))
        val lines = graft.streaming.JsonStreams.encode(arrivals)
          .collect().map(_.getString(0))
        Files.write(Paths.get(s"$topic/b$g.json"),
          String.join("\n", lines: _*).getBytes)
        val ingest = AnnLifecycle.runIngestGeneration(spark, dir, g, topic, ck)
        try ingest.processAllAvailable() finally ingest.stop()
        // quiescent again: live(g) frozen forever — refresh THEN re-arm
        refreshExpected(g)
        stable.set(true)
        // the swap window races the serve loop under full validation:
        // REAL policy thresholds — the monitor must fire on its own
        val d = AnnLifecycle.maybeRetrainSwap(spark, dir, nCells)
        if (!d.fired)
          throw new IllegalStateException(
            s"policy did not fire at generation $g: $d")
        refreshExpected(g + 1)
        swaps += 1
        // default readerHorizon: the serve thread races this very call,
        // and a serve that resolved v(g) just before the flip is still
        // scanning live(g) — the horizon keeps that directory alive
        // until the NEXT swap's compaction (ADVICE r17), so the first
        // pass here reclaims nothing and pass k reclaims live(k-1)
        val reclaimed = AnnLifecycle.compactLive(dir)
        if (reclaimed.nonEmpty) compactions += 1
        g += 1
      }
    } catch {
      case e: Throwable => err = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally {
      stop.set(true)
      server.join()
      emb.unpersist()
    }
    Stats(swaps, compactions, validated.get(), unverified.get(),
      mixed.get(), serveErrors.get(), err)
  }
}
