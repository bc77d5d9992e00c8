package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/**
 * Drift-triggered ANN index lifecycle — the operating component the
 * r15 staleness ladder (BASELINE.md r15) measured but left manual: a
 * VERSIONED serving store whose index generations are immutable and whose current
 * version flips through one atomic manifest rename, plus the retrain
 * controller that watches the drift monitor and publishes the next
 * generation when the measured policy fires.
 *
 * Store layout under `dir`:
 * {{{
 *   <dir>/v<N>/centroids/          parquet (cell, centroid, nrm)
 *   <dir>/v<N>/layout/cell=<c>/…   full reassignment snapshot
 *                                  (vec_id, v, nrm) under v<N>'s cells
 *   <dir>/live/model_version=<N>/cell=<c>/…
 *                                  streaming arrivals, PARTITIONED by
 *                                  the generation whose centroids
 *                                  assigned them (ONE dir + ONE sink
 *                                  metadata log + ONE source checkpoint
 *                                  across all generations — the file
 *                                  sink's batch ids continue from the
 *                                  checkpoint, so a per-generation
 *                                  output dir would hole its metadata
 *                                  log). model_version LEADS the
 *                                  partitioning so a dead generation's
 *                                  rows prune at file LISTING in every
 *                                  serving read (r16 verdict: the
 *                                  row-level filter of the cell-only
 *                                  layout re-scanned corpus-scale dead
 *                                  rows per elapsed generation) and so
 *                                  [[compactLive]] can reclaim a dead
 *                                  generation by dropping ONE directory
 *   <dir>/MANIFEST                 current version, written tmp +
 *                                  ATOMIC_MOVE
 * }}}
 *
 * Serving invariant — "never a mix": a query resolves the manifest
 * ONCE, then reads `v<N>/layout ∪ live WHERE model_version = N` — every
 * candidate row assigned under v<N>'s centroids. Version directories
 * are never rewritten after publish and the version filter partitions
 * the live rows disjointly, so a swap concurrent with a running query
 * cannot splice two models into one result (StreamingAnnIngestSpec
 * races a publish against a serve loop and asserts every observed
 * result row-equals exactly one generation's expected output).
 *
 * Swap protocol (the caller owns the ingest query because Structured
 * Streaming plans freeze model literals at build — a running query
 * cannot change centroids, and a stateless assignment job restarts in
 * one trigger):
 *
 *  1. stop ingest generation N and drain its in-flight microbatch
 *     (offsets-only checkpoint — nothing else to recover);
 *  2. [[maybeRetrainSwap]]: monitor fires → freeze new centroids over
 *     snapshot<N> ∪ live(N), write `v<N+1>` (reassign EVERYTHING — the
 *     bounded full-rebuild the staleness ladder timed at ≤ 2.1 s on a
 *     4× corpus), flip MANIFEST;
 *  3. restart ingest as generation N+1 against the SAME source
 *     checkpoint and the SAME live dir (offsets and sink batch ids
 *     continue — rows already landed are not re-read; they serve from
 *     v<N+1>'s snapshot, while their old version-partitioned live
 *     copies go dead: every serving read prunes them at listing, and
 *     [[compactLive]] reclaims their bytes by dropping the dead
 *     `model_version=<k>` directories — safe by the publish contract,
 *     which folded every one of those rows into v<N+1>'s snapshot);
 *  4. GC on an operator cadence: [[compactLive]] after each swap,
 *     [[pruneGenerations]] to retire `v<k>` trees older than the
 *     pinned-read horizon. Both are crash-safe (retire-under-hidden-
 *     name then delete, healed at every lifecycle entry — the
 *     [[graft.sources.TableLayout]] swap discipline) and both are
 *     no-ops when re-run (AnnLifecycleGcSpec crashes them at every
 *     boundary and asserts serves stay row-exact throughout).
 *
 * At 100 TB the same shape holds: the snapshot write is one
 * partitioned pass over the corpus (executor-parallel, nothing
 * corpus-sized near the driver — centroids are the only collect), the
 * manifest flip is O(1), dead live rows never reach a scan (listing-
 * level pruning on the leading partition column), and reclaiming them
 * is directory unlink, not data rewrite. The receipt is BASELINE.md r17
 * "ANN lifecycle GC": serve cost and live bytes scanned stay FLAT across
 * generations where the cell-only layout grows per generation.
 *
 * Reference scope: the reference engine has no vector serving at all —
 * this is part of the LLM-pipeline extension surface; the policy
 * numbers (z threshold, share budget) come from the measured
 * staleness table (BASELINE.md r15: the monitor reads z ≈ 4.2 from
 * the first genuinely-shifted batch vs < 1.4 on a same-distribution
 * split; new-query recall decays to ~0.8 frozen vs 1.0 retrained).
 */
object AnnLifecycle {

  /** One published generation's receipt. */
  final case class PublishInfo(version: Int, nVectors: Long,
                               publishSec: Double)

  /** One controller evaluation: the monitor reading, the share of
    * arrived vectors, whether the measured policy fired, and the
    * publish receipt when it did. */
  final case class Decision(driftZ: Double, newShare: Double,
                            fired: Boolean, published: Option[PublishInfo])

  private def manifestPath(dir: String): Path = Paths.get(dir, "MANIFEST")

  /** Live-dir schema, declared EXPLICITLY on every read: after
    * [[compactLive]] the sink's `_spark_metadata` log still references
    * the deleted dead-generation files, so schema inference (which opens
    * an arbitrary listed footer) could hit a reclaimed file; with the
    * schema supplied, planning never opens one and the version filter
    * prunes the dead entries at listing before any IO. */
  private val liveSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("vec_id", LongType),
      StructField("v", ArrayType(DoubleType)),
      StructField("nrm", DoubleType),
      StructField("model_version", IntegerType),
      StructField("cell", IntegerType)))
  }

  /** Current serving version, or None before the first publish. */
  def currentVersion(dir: String): Option[Int] = {
    val p = manifestPath(dir)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p)).trim.toInt)
    else None
  }

  /** Atomic manifest flip: readers see either the old version or the
    * new one, never a torn read (write-to-temp + ATOMIC_MOVE on the
    * same filesystem). */
  private def flipManifest(dir: String, version: Int): Unit = {
    val tmp = Paths.get(dir, s".MANIFEST.tmp.$version")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, version.toString.getBytes)
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /**
   * Publish generation `version`: write the centroid table and the full
   * corpus reassignment under those centroids into the IMMUTABLE
   * `v<version>/` tree, then flip the manifest. `corpus` must be the
   * complete (vec_id, embedding) set this generation serves (previous
   * snapshot ∪ everything arrived); one partitioned write, centroid
   * literals the only driver value.
   */
  def publish(spark: SparkSession, dir: String, version: Int,
              cells: Array[(Long, Seq[Double], Double)],
              corpus: DataFrame): PublishInfo = {
    // immutability guard (the FrozenModelStore discipline, ADVICE r17):
    // a generation that TOOK EFFECT (<= current manifest) must never be
    // restaged — serves that resolved it would splice two layouts into
    // one answer. version > current stays writable: that is the staged-
    // retry path (an abandoned unflipped tree is overwrite-replaced).
    currentVersion(dir).foreach { cur =>
      require(version > cur,
        s"generation v$version already took effect under $dir (current " +
          s"v$cur) — flipped trees are immutable; a retrain publishes " +
          s"v${cur + 1}")
    }
    val t0 = System.nanoTime()
    val n = stageGeneration(spark, dir, version, cells, corpus)
    flipManifest(dir, version)
    PublishInfo(version, n, (System.nanoTime() - t0) / 1e9)
  }

  /** [[publish]] WITHOUT the manifest flip: write the immutable
    * `v<version>/` tree and return its row count. The controller stages
    * first, re-validates the arrived snapshot (straggler guard — ADVICE
    * r16), and only then flips; an abandoned staged tree is harmless
    * debris the retry's mode("overwrite") replaces. */
  private def stageGeneration(spark: SparkSession, dir: String, version: Int,
                              cells: Array[(Long, Seq[Double], Double)],
                              corpus: DataFrame): Long = {
    import spark.implicits._
    val vdir = s"$dir/v$version"
    cells.toSeq.toDF("cell", "centroid", "nrm")
      .coalesce(1).write.mode("overwrite").parquet(s"$vdir/centroids")
    Similarity.ivfCellAssignmentsWith(corpus, cells)
      .write.partitionBy("cell").mode("overwrite").parquet(s"$vdir/layout")
    spark.read.parquet(s"$vdir/layout").count()
  }

  /** The frozen centroids of a published generation. */
  def loadCells(spark: SparkSession, dir: String,
                version: Int): Array[(Long, Seq[Double], Double)] =
    spark.read.parquet(s"$dir/v$version/centroids")
      .collect()
      .map(r => (r.getAs[Long]("cell"),
        r.getAs[scala.collection.Seq[Double]]("centroid").toSeq,
        r.getAs[Double]("nrm")))
      .sortBy(_._1)

  /** The shared live-arrivals dir (version-stamped rows). */
  def liveDir(dir: String): String = s"$dir/live"

  /** Live rows (vec_id, v, nrm, cell, model_version), or None before
    * the first sink commit (a streaming parquet dir does not exist
    * until then). */
  private def liveFrame(spark: SparkSession, dir: String)
      : Option[DataFrame] = {
    val d = liveDir(dir)
    val hasData = Files.exists(Paths.get(d)) && {
      val s = Files.list(Paths.get(d))
      // hidden entries are compaction debris (.model_version=… retired
      // dirs), not data — a fully-compacted live dir holds only
      // _spark_metadata and reads as absent
      try s.anyMatch(p => !p.getFileName.toString.startsWith("_") &&
        !p.getFileName.toString.startsWith("."))
      finally s.close()
    }
    if (hasData) Some(spark.read.schema(liveSchema).parquet(d)) else None
  }

  /** Generation `version`'s arrived vectors as (vec_id, embedding) —
    * empty when nothing landed under that generation yet. */
  def liveVectors(spark: SparkSession, dir: String,
                  version: Int): DataFrame =
    liveFrame(spark, dir) match {
      case Some(l) => l.filter(col("model_version") === version)
        .select(col("vec_id"), col("v").as("embedding"))
      case None =>
        spark.range(0).select(col("id").as("vec_id"),
          lit(Array.empty[Double]).as("embedding")).filter(lit(false))
    }

  /**
   * The serving read of one consistent generation: manifest resolved
   * ONCE, then `v<N>/layout ∪ live WHERE model_version = N` — every
   * candidate row assigned under the same frozen centroids. Returns
   * (version, topK frame). `queries` needs (vec_id, embedding) with
   * query ids < nQueries (the probe contract of
   * [[Similarity.ivfHashTopKPruned]]).
   */
  def serveTopK(spark: SparkSession, dir: String, queries: DataFrame,
                nQueries: Int, k: Int, nCells: Int,
                nProbe: Int): (Int, DataFrame) = {
    val v = currentVersion(dir).getOrElse(
      sys.error(s"no published index under $dir"))
    (v, serveTopKAt(spark, dir, v, queries, nQueries, k, nCells, nProbe))
  }

  /** [[serveTopK]] pinned to an explicit generation — the immutable
    * read the drill uses to compute per-version expected results after
    * a concurrent swap (a generation's snapshot never changes; its live
    * slice only grows while that generation's ingest is running, which
    * the swap protocol stops first). */
  def serveTopKAt(spark: SparkSession, dir: String, version: Int,
                  queries: DataFrame, nQueries: Int, k: Int, nCells: Int,
                  nProbe: Int): DataFrame = {
    val snapshot = spark.read.parquet(s"$dir/v$version/layout")
      .select(col("vec_id"), col("v"), col("nrm"),
        col("cell").cast("int").as("cell"))
    val layout = liveFrame(spark, dir) match {
      case Some(l) => snapshot.unionByName(
        l.filter(col("model_version") === version)
          .select(col("vec_id"), col("v"), col("nrm"),
            col("cell").cast("int").as("cell")))
      case None => snapshot
    }
    Similarity.ivfHashTopKPruned(queries, layout, nQueries, k,
      nCells = nCells, nProbe = nProbe,
      cells = Some(loadCells(spark, dir, version)))
  }

  /**
   * The retrain controller — one evaluation of the measured policy:
   * read the current generation's arrivals, compute the drift monitor's
   * max per-dim mean-shift z (snapshot corpus vs arrivals) and the
   * arrived share, and when BOTH clear their thresholds (the
   * r15 staleness policy: the monitor alone fires from the first shifted
   * batch; the share budget keeps a handful of outliers from forcing a
   * rebuild), retrain over snapshot ∪ arrived and [[publish]] the next
   * generation.
   *
   * Monitor contract across generations (see
   * [[Similarity.embeddingDrift]]'s three cases): after a retrain
   * absorbs a drifted cohort, REPEATED same-delta drift on that axis
   * reads as snapshot variance and `mean_shift_z` goes quiet (measured
   * z 4.2 → 1.4 at generation 2) — correct, the snapshot serves that
   * region; PROGRESSIVE drift (the mean keeps moving) re-fires; and
   * axis-aligned SPREAD growth never moves z at all — watch the
   * monitor's `std_ratio` column for that failure mode (an encoder
   * losing normalization widens dims in place). Two bounded collects (centroid freeze) + one
   * partitioned write; the caller then restarts the ingest job as the
   * next generation (see the swap protocol above).
   *
   * `nCells` defaults to [[Similarity.AutoCells]]: each retrain sizes
   * the next generation's IVF width to the COMBINED corpus it is about
   * to index ([[Similarity.scaledCells]] — the r17 frontier policy,
   * ~128 vectors/cell on a power-of-two rung in [16, 4096]), so a store
   * that grows across generations widens its quantizer instead of
   * silently serving a production corpus from the 16-cell toy width.
   * An explicit width pins every generation (the drills/specs do, for
   * deterministic receipts).
   */
  def maybeRetrainSwap(spark: SparkSession, dir: String,
                       nCells: Int = Similarity.AutoCells,
                       zThreshold: Double = 3.0,
                       shareBudget: Double = 0.25,
                       ivfSalt: String = "ivf"): Decision = {
    val v = currentVersion(dir).getOrElse(
      sys.error(s"no published index under $dir"))
    val arrived = liveVectors(spark, dir, v)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val nA = arrived.count()
      if (nA == 0) return Decision(0.0, 0.0, fired = false, None)
      val snap = spark.read.parquet(s"$dir/v$v/layout")
        .select(col("vec_id"), col("v").as("embedding"))
      val nB = snap.count()
      val share = nA.toDouble / math.max(nB, 1L)
      val combined = snap.withColumn("__new", lit(false))
        .unionByName(arrived.withColumn("__new", lit(true)))
      val z = Similarity.embeddingDrift(combined, col("__new"))
        .agg(max(col("mean_shift_z"))).collect()(0).getDouble(0)
      val fired = z > zThreshold && share > shareBudget
      if (!fired) return Decision(z, share, fired = false, None)
      // guard gates the PUBLISH, not the evaluation: reading the monitor
      // mid-ingest is part of the controller cadence (the below-budget
      // path above is routinely evaluated while arrivals land); only a
      // retrain+flip with generation-v rows still landing loses data
      requireNoActiveIngest(spark, dir, "maybeRetrainSwap")
      val cells = Similarity.freezeAnnIndex(
          combined.select(col("vec_id"), col("embedding")), nCells,
          ivfSalt)
        .getOrElse(sys.error("combined corpus too small to retrain"))
        .cells.toArray
      val t0 = System.nanoTime()
      val n = stageGeneration(spark, dir, v + 1, cells,
        combined.select(col("vec_id"), col("embedding")))
      // straggler guard, hard half (ADVICE r16): the never-a-mix /
      // exactly-once invariants assume generation v's ingest stopped
      // BEFORE this controller ran. The active-query check above is
      // best-effort (a query that has not yet reported progress is
      // invisible to it); this recount is the guarantee — a row landed
      // in live(v) after the `arrived` snapshot would be absent from
      // v(v+1)'s staged layout and excluded by every future serving
      // read, a silent permanent loss. Detect it BEFORE the flip and
      // abort: the staged tree is overwrite-replaced by the retry once
      // the caller actually stops the ingest.
      val nA2 = liveVectors(spark, dir, v).count()
      if (nA2 != nA)
        throw new IllegalStateException(
          s"live(v$v) grew during retrain ($nA -> $nA2 rows): generation " +
            s"$v's ingest is still landing vectors — stop it before " +
            "maybeRetrainSwap (swap protocol step 1); aborting before the " +
            s"manifest flip so no row is lost (staged v${v + 1} tree will " +
            "be overwritten by the retry)")
      flipManifest(dir, v + 1)
      Decision(z, share, fired = true,
        Some(PublishInfo(v + 1, n, (System.nanoTime() - t0) / 1e9)))
    } finally arrived.unpersist()
  }

  /** Soft half of the straggler guard: refuse to run a lifecycle pass
    * while a streaming query is still writing this store's live dir.
    * Matched on the sink description of queries that have reported at
    * least one progress — best-effort (see the recount in
    * [[maybeRetrainSwap]] for the hard half). */
  private def requireNoActiveIngest(spark: SparkSession, dir: String,
                                    op: String): Unit = {
    val live = liveDir(dir)
    val writers = spark.streams.active.filter { q =>
      Option(q.lastProgress).exists(_.sink.description.contains(live))
    }
    require(writers.isEmpty,
      s"$op: stop the live-dir ingest first (swap protocol step 1) — " +
        s"${writers.map(_.id).mkString(",")} still writes $live")
  }

  /**
   * Ingest generation N: arrivals from `topic` (JSON-lines
   * (vec_id, embedding), read like the curation jobs' topics through
   * [[graft.streaming.TopicCodec.readStream]], so a backlog drains in
   * one microbatch) assigned under generation N's frozen centroids
   * (plan literals — stateless projection) and landed
   * `(model_version, cell)`-partitioned into the shared live dir (see
   * the layout scaladoc: the leading version partition is what lets
   * dead generations prune at listing and [[compactLive]] reclaim them
   * by directory unlink). Reuse ONE `checkpoint` across generations:
   * the file-source offsets and the sink's metadata-log batch ids
   * continue, so rows drained under generation N are never re-read by
   * generation N+1 (they arrive there through v<N+1>'s snapshot
   * instead).
   */
  def runIngestGeneration(spark: SparkSession, dir: String, version: Int,
                          topic: String, checkpoint: String,
                          dim: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val raw = graft.streaming.JsonStreams.readStream(spark, topic,
        graft.streaming.StreamingCurationJobs.embSchema)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) === dim)
    val cells = loadCells(spark, dir, version)
    graft.sources.TableLayout.streamToCellPartitioned(
      Similarity.ivfCellAssignmentsWith(raw, cells)
        .withColumn("model_version", lit(version)),
      liveDir(dir), checkpoint, partitionCols = Seq("model_version", "cell"))
  }

  // ------------------------------------------------------------------
  // Generation GC — the lifecycle's promised reclamation (r16 verdict
  // ask #1), under the TableLayout crash discipline: retire under a
  // hidden UUID-suffixed name, delete, heal at every entry.
  // ------------------------------------------------------------------

  /** Versions whose `v<k>` tree exists under `dir`, ascending. */
  def publishedVersions(dir: String): Seq[Int] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return Seq.empty
    val s = Files.list(d)
    try s.toArray.map(_.asInstanceOf[Path].getFileName.toString)
      .collect { case n if n.matches("v\\d+") => n.drop(1).toInt }
      .sorted.toSeq
    finally s.close()
  }

  /** Crash recovery for [[compactLive]] / [[pruneGenerations]], run at
    * every lifecycle maintenance entry: a hidden `.…retired-<uuid>`
    * survivor means a GC pass died between its retire move and its
    * delete. Live-dir partition debris heals through
    * [[graft.sources.TableLayout.healRetired]] (restore-when-no-live-
    * sibling — the restored dead rows are harmless, still version-
    * pruned from every read, and the next compact re-collects them);
    * top-level `v<k>` debris is restored the same way so an interrupted
    * prune converges by re-deciding; abandoned `.MANIFEST.tmp.*` writes
    * are swept (the atomic move never happened — the manifest is
    * whichever version last flipped). The tmp sweep is AGE-GATED
    * (ADVICE r17): a GC pass concurrent with a [[flipManifest]] in
    * another thread/process must not delete the tmp file in the window
    * between its write and its ATOMIC_MOVE — a fresh tmp is an
    * in-flight publish, not debris; only files older than
    * `tmpSweepAgeMs` (default 60 s, orders of magnitude beyond the
    * write→move gap of a live flip) are abandoned-by-construction. */
  private[similarity] val tmpSweepAgeMs: Long = 60000L

  def healLifecycle(dir: String): Unit = {
    graft.sources.TableLayout.healRetired(Paths.get(liveDir(dir)),
      "model_version")
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return
    val retiredRe = "^\\.(v\\d+)\\.retired(-[0-9a-fA-F-]+)?$".r
    val s = Files.list(d)
    val entries = try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ListBuffer.empty[Path]
      while (it.hasNext) buf += it.next()
      buf.toList
    } finally s.close()
    entries.foreach { p =>
      val name = p.getFileName.toString
      name match {
        case retiredRe(orig, _) =>
          val live = d.resolve(orig)
          if (Files.exists(live))
            org.apache.commons.io.FileUtils.deleteDirectory(p.toFile)
          else Files.move(p, live)
        case _ =>
          if (name.startsWith(".MANIFEST.tmp.") &&
              Files.getLastModifiedTime(p).toMillis
                < System.currentTimeMillis() - tmpSweepAgeMs)
            Files.deleteIfExists(p)
      }
    }
  }

  /** Retire-then-delete one directory, crash-hooked at the boundary the
    * sweep spec kills ([[graft.sources.TableLayout.crashHook]]). */
  private def retireAndDelete(target: Path, hook: String): Unit = {
    val retired = target.resolveSibling(
      s".${target.getFileName}.retired-${java.util.UUID.randomUUID()}")
    Files.move(target, retired)
    graft.sources.TableLayout.crashHook(hook)
    org.apache.commons.io.FileUtils.deleteDirectory(retired.toFile)
  }

  /**
   * Reclaim DEAD live arrivals: every `live/model_version=<k>` directory
   * with k < current holds rows the k→k+1 publish already folded into a
   * later snapshot (the swap protocol's step 2 reassigns
   * snapshot ∪ live(k) in full), so dropping the directory loses
   * nothing — serving reads were already pruning it at listing; this
   * returns the bytes. The sink's `_spark_metadata` log still lists the
   * deleted files, which is why EVERY live read supplies [[liveSchema]]
   * explicitly and filters on the version partition (see liveFrame).
   * Directory unlink only — O(dead dirs), no data rewrite, no metadata
   * log surgery, checkpoint and batch ids untouched; safe concurrent
   * with the CURRENT generation's ingest (it only ever writes
   * `model_version=<current>`). Returns the reclaimed versions.
   *
   * `readerHorizon` (ADVICE r17): a serve that resolved the manifest
   * JUST BEFORE a flip is still scanning live(cur−1) when this pass
   * runs right after the swap — unlinking that directory under it
   * fails the read (the listing already happened; `ignoreMissingFiles`
   * is off by design). The default keeps every generation within
   * `readerHorizon` of current alive — one flip's worth of in-flight
   * readers by default, the same discipline as [[pruneGenerations]]'
   * `keep` — so the pass reclaims `k < cur − readerHorizon` only.
   * A generation is therefore reclaimed on the NEXT compaction after
   * the one that followed its supersession, by which time any reader
   * that resolved it has long finished (a serve is one bounded query,
   * not a subscription). Pass `readerHorizon = 0` ONLY on a quiescent
   * store (no serve in flight — e.g. a drill that stops all readers
   * between phases) to reclaim everything below current immediately.
   */
  def compactLive(dir: String, readerHorizon: Int = 1): Seq[Int] = {
    require(readerHorizon >= 0,
      s"readerHorizon must be >= 0, got $readerHorizon")
    val cur = currentVersion(dir).getOrElse(
      sys.error(s"no published index under $dir"))
    healLifecycle(dir)
    val live = Paths.get(liveDir(dir))
    if (!Files.isDirectory(live)) return Seq.empty
    val partRe = "^model_version=(\\d+)$".r
    val s = Files.list(live)
    val dead = try {
      val it = s.iterator()
      val buf = scala.collection.mutable.ListBuffer.empty[(Int, Path)]
      while (it.hasNext) {
        val p = it.next()
        p.getFileName.toString match {
          case partRe(k) if k.toInt < cur - readerHorizon => buf += ((k.toInt, p))
          case _ => ()
        }
      }
      buf.toList.sortBy(_._1)
    } finally s.close()
    dead.foreach { case (_, p) => retireAndDelete(p, "live-gen-retired") }
    dead.map(_._1)
  }

  /**
   * Retire old `v<k>` generation trees, keeping the newest `keep`
   * (current included — the current version is NEVER pruned, and
   * neither is anything newer than it, e.g. a staged-but-unflipped
   * tree). Pinned reads ([[serveTopKAt]]) of a pruned generation fail
   * by design — size `keep` to the pinned-read horizon. Directory
   * unlink under the same retire/heal discipline as [[compactLive]].
   * Returns the pruned versions.
   */
  def pruneGenerations(dir: String, keep: Int = 2): Seq[Int] = {
    require(keep >= 1, s"keep must be >= 1, got $keep")
    val cur = currentVersion(dir).getOrElse(
      sys.error(s"no published index under $dir"))
    healLifecycle(dir)
    val horizon = cur - keep + 1
    val dead = publishedVersions(dir).filter(k => k < horizon && k < cur)
    dead.foreach { k =>
      retireAndDelete(Paths.get(dir, s"v$k"), "gen-retired")
    }
    dead
  }
}
