package graft

import graft.fixtures.Embeddings
import graft.similarity.{AnnLifecycle, Similarity}
import graft.sources.VersionedDir
import graft.streaming.JsonStreams
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/**
 * The lifecycle GC's promises, spec-pinned (r16 verdict ask #1): dead
 * live generations prune at file LISTING (not row filters), compaction
 * reclaims them by directory unlink without touching the sink's
 * metadata log or the serving answer, generation pruning never touches
 * the current version, crashes at every GC boundary heal on the next
 * entry, and the straggler guard (ADVICE r16) refuses a retrain while
 * the live ingest is still running.
 */
class AnnLifecycleGcSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val nCells = 16
  private val nQ = 4

  private def feed(topic: String, df: org.apache.spark.sql.DataFrame,
                   name: String): Unit = {
    val lines = JsonStreams.encode(df).collect().map(_.getString(0))
    Files.write(Paths.get(s"$topic/$name.json"),
      String.join("\n", lines: _*).getBytes)
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
      r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet

  private def base() = spark.read.parquet(s"$sfDir/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  /** Parquet data files under a directory tree. */
  private def parquetFiles(dir: String): Long =
    if (!Files.isDirectory(Paths.get(dir))) 0L
    else {
      val s = Files.walk(Paths.get(dir))
      try s.toArray.map(_.toString).count(_.endsWith(".parquet")).toLong
      finally s.close()
    }

  /** Hidden (debris) entries directly under a directory. */
  private def hiddenEntries(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.isDirectory(p)) return Seq.empty
    val s = Files.list(p)
    try s.toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      .filter(n => n.startsWith(".") && n != "_spark_metadata").toSeq
    finally s.close()
  }

  /** (files, bytes) the executed serve actually scanned from the live
    * dir — the listing-level receipt (row filters would still show every
    * dead file here). */
  private def liveScan(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val through = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: through.flatMap(walk)
    }
    val scans = walk(df.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("/live"))
          => f }
    def metric(k: String) =
      scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum
    (metric("numFiles"), metric("filesSize"))
  }

  /** Publish v1 over the base corpus, ingest one shifted batch under
    * gen 1, swap to v2, ingest a small batch under gen 2 — the store
    * every test starts from: live = dead(model_version=1) ∪
    * current(model_version=2). Returns (dir, topic, ck). */
  private def storeWithDeadGeneration(root: java.nio.file.Path)
      : (String, String, String) = {
    val b = base()
    val nBase = b.count()
    val work = root.toString
    val (dir, topic, ck) = (s"$work/index", s"$work/topic", s"$work/ck")
    Files.createDirectories(Paths.get(topic))
    val cells1 = Similarity.freezeAnnIndex(b, nCells).get.cells.toArray
    AnnLifecycle.publish(spark, dir, 1, cells1, b)

    val fresh = Embeddings.freshShifted(spark, 2 * nBase)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val gen1 = AnnLifecycle.runIngestGeneration(spark, dir, 1, topic, ck)
    try { feed(topic, fresh, "b1"); gen1.processAllAvailable() }
    finally gen1.stop()
    assert(Files.isDirectory(
      Paths.get(s"$dir/live/model_version=1")),
      "ingest must land under the leading version partition")

    val d = AnnLifecycle.maybeRetrainSwap(spark, dir, nCells)
    assert(d.fired && AnnLifecycle.currentVersion(dir).contains(2))

    val extra = Embeddings.freshShifted(spark, 10)
      .select((col("vec_id") + lit(300000000L)).as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    val gen2 = AnnLifecycle.runIngestGeneration(spark, dir, 2, topic, ck)
    try { feed(topic, extra, "b2"); gen2.processAllAvailable() }
    finally gen2.stop()
    assert(AnnLifecycle.liveVectors(spark, dir, 2).count() == 10)
    (dir, topic, ck)
  }

  test("dead generations prune at LISTING and compactLive reclaims them " +
    "by directory unlink: the serve scans exactly the current " +
    "generation's live files before AND after compaction, answers are " +
    "row-identical, and a second pass is a no-op") {
    withTempDir("ann_gc") { root =>
      val (dir, _, _) = storeWithDeadGeneration(root)
      val deadFiles = parquetFiles(s"$dir/live/model_version=1")
      val curFiles = parquetFiles(s"$dir/live/model_version=2")
      assert(deadFiles > 0 && curFiles > 0)

      // nProbe = nCells so cell pruning can't mask the version dimension:
      // a scan over ALL cells must still list ONLY the live generation
      val (v1, served1) = AnnLifecycle.serveTopK(spark, dir, base(), nQ, 5,
        nCells, nProbe = nCells)
      assert(v1 == 2)
      val got1 = rows(served1)
      val (files1, bytes1) = liveScan(served1)
      assert(files1 == curFiles && files1 < deadFiles + curFiles,
        s"live scan listed $files1 files; current generation has $curFiles, " +
          s"dead has $deadFiles — dead files must prune at listing")

      // default reader horizon (ADVICE r17): the generation superseded by
      // the MOST RECENT flip stays alive — a serve that resolved v1 just
      // before the swap may still be scanning live(1)
      assert(AnnLifecycle.compactLive(dir).isEmpty,
        "default horizon must keep the just-superseded generation")
      assert(Files.isDirectory(Paths.get(s"$dir/live/model_version=1")),
        "live(cur-1) survives the default-horizon pass")
      // quiescent store (no serve in flight here): horizon 0 reclaims now
      val reclaimed = AnnLifecycle.compactLive(dir, readerHorizon = 0)
      assert(reclaimed == Seq(1))
      assert(!Files.exists(Paths.get(s"$dir/live/model_version=1")),
        "compaction must unlink the dead generation directory")
      assert(parquetFiles(s"$dir/live/model_version=2") == curFiles,
        "compaction must not touch the current generation")
      assert(Files.isDirectory(Paths.get(s"$dir/live/_spark_metadata")),
        "the sink metadata log is never rewritten")

      val (v2, served2) = AnnLifecycle.serveTopK(spark, dir, base(), nQ, 5,
        nCells, nProbe = nCells)
      assert(v2 == 2 && rows(served2) == got1,
        "the serving answer must be identical across compaction")
      val (files2, bytes2) = liveScan(served2)
      assert(files2 == curFiles && bytes2 == bytes1,
        "post-compaction scan reads the same current-generation files")

      assert(AnnLifecycle.compactLive(dir, readerHorizon = 0).isEmpty,
        "second pass is a no-op")
      assert(hiddenEntries(s"$dir/live").isEmpty, "zero debris")
      // the ingest continuity surface survives: liveVectors still reads
      assert(AnnLifecycle.liveVectors(spark, dir, 2).count() == 10)
    }
  }

  test("compactLive crashed between retire and delete: serves stay " +
    "row-exact through the crash, the next pass heals and converges, " +
    "and the store ends debris-free") {
    withTempDir("ann_gc") { root =>
      val (dir, _, _) = storeWithDeadGeneration(root)
      val expected = rows(AnnLifecycle.serveTopK(spark, dir, base(), nQ, 5,
        nCells, nProbe = nCells)._2)

      VersionedDir.crashHook = p =>
        if (p == "live-gen-retired") sys.error(s"crash at $p")
      try intercept[RuntimeException] {
        AnnLifecycle.compactLive(dir, readerHorizon = 0)
      } finally VersionedDir.crashHook = _ => ()
      // mid-crash state: dead dir retired under a hidden name — dead rows
      // were never served anyway, so the answer is unchanged
      assert(hiddenEntries(s"$dir/live").nonEmpty, "crash left a retired dir")
      assert(rows(AnnLifecycle.serveTopK(spark, dir, base(), nQ, 5,
        nCells, nProbe = nCells)._2) == expected)

      // heal + converge: entry heal restores the retired dir, the pass
      // re-collects it; end state identical to an uncrashed run
      val reclaimed = AnnLifecycle.compactLive(dir, readerHorizon = 0)
      assert(reclaimed == Seq(1), s"healed pass must reclaim: $reclaimed")
      assert(hiddenEntries(s"$dir/live").isEmpty, "zero debris after heal")
      assert(!Files.exists(Paths.get(s"$dir/live/model_version=1")))
      assert(rows(AnnLifecycle.serveTopK(spark, dir, base(), nQ, 5,
        nCells, nProbe = nCells)._2) == expected)
      assert(AnnLifecycle.compactLive(dir, readerHorizon = 0).isEmpty)
    }
  }

  test("pruneGenerations keeps the newest `keep` trees, never the " +
    "current version's, survives a crash at the retire boundary, and " +
    "pinned reads inside the horizon keep working") {
    withTempDir("ann_gc") { root =>
      val (dir, topic, ck) = storeWithDeadGeneration(root)
      // third generation: force-fire on the 10 gen-2 arrivals
      val d = AnnLifecycle.maybeRetrainSwap(spark, dir, nCells,
        zThreshold = -1.0, shareBudget = 0.0)
      assert(d.fired && AnnLifecycle.currentVersion(dir).contains(3))
      assert(AnnLifecycle.publishedVersions(dir) == Seq(1, 2, 3))

      // crash mid-prune: v1 retired but not deleted; current untouched
      VersionedDir.crashHook = p =>
        if (p == "gen-retired") sys.error(s"crash at $p")
      try intercept[RuntimeException] {
        AnnLifecycle.pruneGenerations(dir, keep = 2)
      } finally VersionedDir.crashHook = _ => ()
      assert(AnnLifecycle.currentVersion(dir).contains(3))

      // healed re-run converges: v1 restored then pruned for good
      assert(AnnLifecycle.pruneGenerations(dir, keep = 2) == Seq(1))
      assert(AnnLifecycle.publishedVersions(dir) == Seq(2, 3))
      assert(hiddenEntries(dir).isEmpty, "zero top-level debris")
      assert(AnnLifecycle.pruneGenerations(dir, keep = 2).isEmpty)

      // pinned read inside the horizon still serves; the current serve
      // is untouched by pruning
      assert(rows(AnnLifecycle.serveTopKAt(spark, dir, 2, base(), nQ, 5,
        nCells, nProbe)).nonEmpty)
      val (v, cur) = AnnLifecycle.serveTopK(spark, dir, base(), nQ, 5,
        nCells, nProbe)
      assert(v == 3 && rows(cur).nonEmpty)

      // keep = 1: only the current tree survives; current never pruned
      assert(AnnLifecycle.pruneGenerations(dir, keep = 1) == Seq(2))
      assert(AnnLifecycle.publishedVersions(dir) == Seq(3))
    }
  }

  test("straggler guard: maybeRetrainSwap refuses while the live ingest " +
    "is still running (a post-snapshot row would be silently lost from " +
    "the serving set), then fires normally once it is stopped") {
    withTempDir("ann_guard") { root =>
      val b = base()
      val nBase = b.count()
      val work = root.toString
      val (dir, topic, ck) = (s"$work/index", s"$work/topic", s"$work/ck")
      Files.createDirectories(Paths.get(topic))
      val cells1 = Similarity.freezeAnnIndex(b, nCells).get.cells.toArray
      AnnLifecycle.publish(spark, dir, 1, cells1, b)

      val fresh = Embeddings.freshShifted(spark, 2 * nBase)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val gen1 = AnnLifecycle.runIngestGeneration(spark, dir, 1, topic, ck)
      try {
        feed(topic, fresh, "b1")
        gen1.processAllAvailable()
        val e = intercept[IllegalArgumentException] {
          AnnLifecycle.maybeRetrainSwap(spark, dir, nCells)
        }
        assert(e.getMessage.contains("stop the live-dir ingest"))
        assert(AnnLifecycle.currentVersion(dir).contains(1),
          "a refused retrain must not flip the manifest")
      } finally gen1.stop()
      // protocol respected: the same controller call now fires
      val d = AnnLifecycle.maybeRetrainSwap(spark, dir, nCells)
      assert(d.fired && AnnLifecycle.currentVersion(dir).contains(2))
    }
  }

  test("controller auto-width (the maybeRetrainSwap default): a retrain " +
    "over a grown combined corpus widens the next generation's quantizer " +
    "per scaledCells, and serving picks the wider centroid table up from " +
    "the store transparently") {
    withTempDir("ann_auto") { root =>
      val b = base()
      val nBase = b.count()
      val work = root.toString
      val (dir, topic, ck) = (s"$work/index", s"$work/topic", s"$work/ck")
      Files.createDirectories(Paths.get(topic))
      // v1 at the explicit toy width (the pre-policy store shape)
      val cells1 = Similarity.freezeAnnIndex(b, nCells).get.cells.toArray
      AnnLifecycle.publish(spark, dir, 1, cells1, b)

      // grow the corpus past the first auto rung: 500 base + 3500 drifted
      // arrivals = 4000 combined -> scaledCells = 32
      val fresh = Embeddings.freshShifted(spark, 3500)
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      val gen1 = AnnLifecycle.runIngestGeneration(spark, dir, 1, topic, ck)
      try { feed(topic, fresh, "b1"); gen1.processAllAvailable() }
      finally gen1.stop()

      assert(Similarity.scaledCells(nBase + 3500) == 32)
      val d = AnnLifecycle.maybeRetrainSwap(spark, dir) // nCells defaulted
      assert(d.fired && AnnLifecycle.currentVersion(dir).contains(2))
      assert(AnnLifecycle.loadCells(spark, dir, 2).length == 32,
        "the auto-width retrain must widen the quantizer to the policy rung")
      assert(AnnLifecycle.loadCells(spark, dir, 1).length == nCells,
        "the published v1 tree is immutable")
      // serving resolves the stored (wider) centroid table — the nCells
      // serve parameter is probe-side only
      val (v, served) = AnnLifecycle.serveTopK(spark, dir, base(), nQ, 5,
        nCells, nProbe)
      assert(v == 2 && rows(served).nonEmpty)

      // immutability guard: a generation that took effect can never be
      // restaged (VersionedDir.publish's guard, shared with the model
      // store) — neither the current version nor an older one
      val e1 = intercept[IllegalArgumentException] {
        AnnLifecycle.publish(spark, dir, 2, cells1, b)
      }
      assert(e1.getMessage.contains("immutable"))
      val e2 = intercept[IllegalArgumentException] {
        AnnLifecycle.publish(spark, dir, 1, cells1, b)
      }
      assert(e2.getMessage.contains("immutable"))
      assert(AnnLifecycle.currentVersion(dir).contains(2),
        "a refused publish must not flip the manifest")
    }
  }

  private def nProbe = 4
}
