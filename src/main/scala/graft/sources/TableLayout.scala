package graft.sources

import graft.queries.{SharedFrames, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths, StandardCopyOption}

/**
 * Physical table layout for scan-time pruning — the storage half of the
 * 100 TB design that query plans alone cannot deliver. The reference
 * consumes append-only Kafka topics and leaves at-rest layout to the
 * lake writer; an engine that also OWNS the landed tables must write
 * them so that the dominant access patterns never touch most of the
 * data:
 *
 *  - **Date partitioning** (`writeDatePartitioned`): one directory per
 *    calendar day of the event-time column. A time-bounded query reads
 *    only its days' directories — partition pruning happens at FILE
 *    LISTING, before any I/O, so a 7-day window over a year-long 100 TB
 *    table lists ~2% of it. Spark plans this automatically from a
 *    filter on the partition column (`PartitionFilters` in the scan
 *    node; asserted in TableLayoutSpec).
 *  - **Sort-within-files** (`sortCols`): rows inside each file are
 *    clustered on the given keys, so parquet row-group min/max stats
 *    make selective non-partition predicates (e.g. one user's events)
 *    skip most row groups of the already-pruned days.
 *  - **Bucketing** (`writeBucketed`): pre-shuffled at-rest layout for
 *    the JOIN/AGGREGATE key. Two tables bucketed on the same key with
 *    the same bucket count join with ZERO Exchange on either side —
 *    the shuffle was paid once at write time and amortizes over every
 *    subsequent join (asserted shuffle-free in TableLayoutSpec).
 *
 * File-count control: a day of a 100 TB/year table is ~280 GB — one
 * file per day is unwritable (one task) and unreadable (one split per
 * reader thread at listing grain). `filesPerPartition` splits each date
 * directory into that many files by hashing `spreadCol` (default: the
 * first sort key, so file-level clustering survives), sized so each
 * file lands near the scan's split size (`maxPartitionBytes`, 128 MB
 * default — ~2000 files/day for 280 GB). Local scale factors use small
 * values; the knob is the design point.
 */
object TableLayout {

  /** Partition-column name added by [[writeDatePartitioned]]. */
  val dateCol = "event_date"

  /** On-disk partition directory name for (`partCol`, value), using the
    * SAME escaping rule Spark's writer uses (ExternalCatalogUtils — '%',
    * ':', space, '=', '/' etc. become %XX; null becomes the Hive default
    * partition token). A raw s"$partCol=$value" interpolation never
    * matches the on-disk directory for a value needing escaping, so a
    * rewrite/delete of that partition would silently skip it and the old
    * directory would resurrect rows (ADVICE r12). */
  private[sources] def partDirName(partCol: String, value: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val v =
      if (value == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(value.toString)
    s"$partCol=$v"
  }

  /**
   * Write `df` date-partitioned on `tsCol`'s calendar date,
   * `filesPerPartition` files per date directory, rows within each file
   * sorted on `sortCols`. One shuffle (the write-time clustering the
   * reads then never pay); the sort is per-file, not global.
   */
  def writeDatePartitioned(df: DataFrame, outDir: String,
                           tsCol: String = "ts",
                           sortCols: Seq[String] = Seq("user_id", "ts"),
                           filesPerPartition: Int = 1): Unit = {
    require(filesPerPartition > 0, "filesPerPartition must be positive")
    val dated = df.withColumn(dateCol, to_date(col(tsCol)))
    // write parallelism = one task per (date, spread) value — hash
    // repartitioning needs at least that many target partitions or
    // distinct spread values collide into one task and the knob
    // silently degrades to fewer, larger files. One cheap distinct-count
    // of the date column (a column-pruned scan) sizes the shuffle; with
    // filesPerPartition=1 the default shuffle sizing is fine.
    val clustered =
      if (filesPerPartition == 1) dated.repartition(col(dateCol))
      else {
        val nDates = dated.select(col(dateCol)).distinct().count().toInt.max(1)
        dated.repartition(nDates * filesPerPartition * 2, col(dateCol),
          pmod(hash(col(sortCols.head)), lit(filesPerPartition)))
      }
    clustered
      .sortWithinPartitions((dateCol +: sortCols).map(col): _*)
      .write.partitionBy(dateCol).mode("overwrite").parquet(outDir)
  }

  /** Read a [[writeDatePartitioned]] layout back; `event_date` returns
    * as a DATE partition column — filter on it for listing-time pruning.
    *
    * Reads the partition DIRECTORIES (one root listing + basePath), not the root:
    * the directory tree is the single source of truth. A root read of a
    * [[streamToDatePartitioned]]-landed layout would instead consult
    * the sink's `_spark_metadata` file log — which a maintenance
    * rewrite ([[compactDatePartitions]]/[[upsertDatePartitions]])
    * deliberately invalidates. Under directory-as-truth the sink log
    * governs only the sink's own append recovery (its exactly-once
    * contract), and maintenance passes own the files. */
  def readDatePartitioned(spark: SparkSession, dir: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val parts =
      if (!fs.exists(root)) Array.empty[String]
      else fs.listStatus(root)
        .filter(s => s.isDirectory &&
          s.getPath.getName.startsWith(s"$dateCol="))
        .map(_.getPath.toString).sorted
    if (parts.isEmpty) spark.read.parquet(dir)
    else spark.read.option("basePath", dir).parquet(parts.toIndexedSeq: _*)
  }

  /**
   * Fingerprint of a source parquet file/directory: every data file's
   * (relative name, size, mtime) folded into one hex token. Keys the
   * cross-JVM layout cache so REGENERATED testdata invalidates the
   * cached layout instead of silently serving stale rows to the
   * oracle-checked layout queries (ADVICE r10).
   */
  private def sourceFingerprint(path: java.nio.file.Path): String = {
    var h = 1469598103934665603L // FNV-1a
    def mix(x: Long): Unit = { h ^= x; h *= 1099511628211L }
    if (Files.exists(path)) {
      val s = Files.walk(path)
      try {
        val it = s.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p)) {
            mix(path.relativize(p).toString.hashCode.toLong)
            mix(Files.size(p))
            mix(Files.getLastModifiedTime(p).toMillis)
          }
        }
      } finally s.close()
    }
    java.lang.Long.toHexString(h)
  }

  /**
   * Build-once cross-JVM layout cache under java.io.tmpdir: `build`
   * writes the layout into a private temp dir which is atomically
   * renamed into place; concurrent builders race benignly (the loser
   * discards its copy). The cache key carries a content fingerprint of
   * `srcPath`, so regenerating the source data produces a NEW cache
   * directory rather than silently serving the stale layout.
   */
  private def cachedLayoutDir(sfDir: String, name: String, srcPath: String)
                             (build: String => Unit): String = {
    val fp = sourceFingerprint(Paths.get(srcPath))
    val base = Paths.get(System.getProperty("java.io.tmpdir"),
      "graft_layout", sfDir.replaceAll("[^A-Za-z0-9._-]", "_"))
    val dst = base.resolve(s"$name-$fp")
    if (!Files.exists(dst.resolve("_SUCCESS"))) {
      val tmp = base.resolve(s"$name-$fp.tmp-${java.util.UUID.randomUUID()}")
      Files.createDirectories(base)
      // try/finally: a build that THROWS must not leak its tmp dir under
      // java.io.tmpdir forever (ADVICE r11)
      try {
        build(tmp.toString)
        try Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
        catch { case e: java.nio.file.FileSystemException =>
          // benign ONLY if another builder actually completed dst — an
          // unrelated rename failure (permissions, EXDEV) silently
          // discarding the build would defer to an opaque read error at
          // a path that doesn't exist (ADVICE r11)
          if (!Files.exists(dst.resolve("_SUCCESS"))) throw e
        }
      } finally {
        if (Files.exists(tmp))
          org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
      }
    }
    dst.toString
  }

  /**
   * The driver-testdata `events` table in the date-partitioned layout,
   * built at most once per (sfDir, source fingerprint) — the layout is
   * content-addressed and reused across sessions and JVMs (Verify and
   * Bench both consume it; the write happens on whichever ran first).
   */
  def eventsDatePartitioned(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "events-by-date", persist = false) {
      val dir = cachedLayoutDir(sfDir, "events_by_date",
        s"$sfDir/events.parquet") { tmp =>
        writeDatePartitioned(Tables.events(spark, sfDir), tmp)
      }
      readDatePartitioned(spark, dir)
    }

  /**
   * The `events` table Z-order-clustered on (user_id, value) with its
   * file-stats manifest — the two-key selective-read layout
   * [[readStatsPruned]] serves (registered as `events_zorder_box`).
   * Rank-based cells (`ranked = true`): user activity is the canonical
   * skewed key, and rank cells keep per-file boxes balanced whatever the
   * distribution. Built once per (sfDir, source fingerprint), exactly
   * like [[eventsDatePartitioned]]; returns the layout directory.
   */
  def eventsZOrdered(spark: SparkSession, sfDir: String,
                     numFiles: Int = 16): String =
    // every layout-shaping parameter is folded into the cache key — a
    // non-default numFiles must not silently serve the default layout
    // (ADVICE r11)
    cachedLayoutDir(sfDir, s"events_zorder_n$numFiles",
      s"$sfDir/events.parquet") { tmp =>
      writeZOrdered(Tables.events(spark, sfDir), tmp,
        Seq("user_id", "value"), numFiles, ranked = true)
      buildFileStats(spark, tmp, Seq("user_id", "value"))
    }

  /**
   * The `embeddings` table partitioned by its deterministic IVF coarse
   * cell ([[graft.similarity.Similarity.ivfCellAssignments]]) — the ANN
   * analogue of date partitioning: an IVF query probes `nProbe` of
   * `nCells` cells, so over this layout the probe set prunes whole cell
   * directories at file LISTING time and the query reads only the
   * probed fraction of the corpus (where the query-time variant scans
   * everything to recompute cells). The at-rest form every disk-resident
   * IVF index takes (cell = segment); served by
   * `similarity_ivf_pruned`, which re-ranks to the exact same rows as
   * `similarity_ivf`.
   *
   * @param filesPerCell files per cell directory (hash-spread on
   *                vec_id) — 1 suits the test scale factors; at real
   *                scale size it so a cell's files match the cluster's
   *                scan parallelism, exactly the
   *                [[compactDatePartitions]] filesPerPartition trade
   */
  def embeddingsCellPartitioned(spark: SparkSession, sfDir: String,
                                nCells: Int = 16,
                                filesPerCell: Int = 1,
                                rounds: Int =
                                  graft.similarity.Similarity.IvfTrainRounds)
      : String =
    // every quantizer-shaping parameter is in the cache key: a 32-cell
    // request served a cached 16-cell layout would make the pruned probe
    // read cells that don't exist (ADVICE r11), and a trained-quantizer
    // request served a hash-sampled layout would place vectors in
    // DIFFERENT cells than the query's probe set assumes (r13)
    cachedLayoutDir(sfDir,
      s"embeddings_ivf_cells_c$nCells-f$filesPerCell-t$rounds",
      s"$sfDir/embeddings.parquet") { tmp =>
      graft.similarity.Similarity.ivfCellAssignments(
          Tables.spread(spark, sfDir, "embeddings"), nCells, rounds = rounds)
        .repartition(col("cell"), pmod(col("vec_id"), lit(filesPerCell)))
        .write.partitionBy("cell").parquet(tmp)
    }

  /**
   * The `documents` corpus in its by-source physical layout — the
   * biggest table of a real training pipeline, stored the way such a
   * pipeline reads it: one `source=` directory per provenance (the
   * listing-time prune for per-source curation/rollups — by-source
   * quotas, contamination sweeps, quality audits all filter on source
   * first), rows within a source range-clustered on `n_chars` across
   * `filesPerSource` files with a `_graft_stats` manifest over
   * (n_chars, doc_id) — so a length-band read (the sequence-packing /
   * curation access pattern) opens only the intersecting files.
   * Served by `docs_layout_prune` (partition pruning) and
   * `docs_stats_box` (manifest file skipping); both oracle-checked
   * against the raw parquet — layout moves bytes, never values. Built
   * once per (sfDir, fingerprint), like every layout here.
   */
  def documentsSourcePartitioned(spark: SparkSession, sfDir: String,
                                 filesPerSource: Int = 2): String =
    cachedLayoutDir(sfDir, s"documents_by_source_f$filesPerSource",
      s"$sfDir/documents.parquet") { tmp =>
      writeDocumentsSourcePartitioned(spark,
        spark.read.parquet(s"$sfDir/documents.parquet"), tmp, filesPerSource)
    }

  /** The documents-layout writer itself (the body [[documentsSourcePartitioned]]
    * caches): by-source directories, rows within a source range-clustered
    * on `n_chars` across ~`filesPerSource` files, `_graft_stats` manifest
    * over (n_chars, doc_id). Public so maintenance specs and ad-hoc
    * builds can target their OWN directory — the cross-JVM cached layout
    * must never be mutated in place. */
  def writeDocumentsSourcePartitioned(spark: SparkSession, docs: DataFrame,
                                      outDir: String,
                                      filesPerSource: Int = 2): Unit = {
    val nSources = docs.select(col("source")).distinct().count().toInt
    // contiguous (source, n_chars) ranges: each output task holds one
    // source's length band, so every source directory gets
    // ~filesPerSource files with DISJOINT n_chars ranges — the
    // structure the manifest prunes on
    docs.repartitionByRange(math.max(nSources * filesPerSource, 1),
        col("source"), col("n_chars"))
      .sortWithinPartitions(col("source"), col("n_chars"), col("doc_id"))
      .write.partitionBy("source").parquet(outDir)
    buildFileStats(spark, outDir, Seq("n_chars", "doc_id"))
  }

  /**
   * TAKEDOWN pass on the by-source documents layout — the corpus twin of
   * [[deleteDateKeys]]' GDPR path, for the requests a training-data lake
   * actually receives (right-to-be-forgotten, copyright/DMCA removal,
   * contamination purges): delete every row whose `idCol` is in `ids`.
   * Same pruning shape as the events delete: a column-pruned semi-join
   * probe finds the SOURCE partitions holding a doomed id, and only
   * those are staged/swapped ([[rewritePartitions]] over `source=`
   * directories — untouched sources' files are never opened); rewritten
   * sources keep the n_chars range-banding so the stats manifest stays
   * prunable after a [[refreshFileStats]] (the caller composes the
   * refresh, exactly like the events maintenance loop). A source whose
   * docs are ALL deleted is retired entirely.
   */
  def deleteDocIds(spark: SparkSession, dir: String, ids: DataFrame,
                   idCol: String = "doc_id",
                   filesPerSource: Int = 2,
                   sortCols: Seq[String] = Seq("n_chars", "doc_id")): Unit = {
    healRetired(Paths.get(dir), "source")
    val doomed = ids.select(col(idCol)).distinct()
    val layout = spark.read.parquet(dir)
    val touched = layout.select(col(idCol), col("source"))
      .join(doomed, Seq(idCol), "left_semi")
      .select(col("source")).distinct()
    val kept = layout.join(touched, Seq("source"), "left_semi")
      .join(doomed, Seq(idCol), "left_anti")
    val parts = touched.collect().map(r => partDirName("source", r.get(0)))
      .toIndexedSeq
    if (parts.nonEmpty) {
      val banded = kept.repartitionByRange(
        math.max(parts.size * filesPerSource, 1),
        col("source"), col("n_chars"))
      rewritePartitions(spark, dir, banded, sortCols, parts,
        partCol = "source")
    }
  }

  /**
   * Land a PRE-ASSIGNED vector stream
   * ([[graft.similarity.Similarity.ivfCellAssignmentsAgainst]] under the
   * corpus's frozen quantizer) into cell-partitioned parquet — live IVF
   * index segments, the ANN sibling of [[streamToDatePartitioned]]:
   * each microbatch writes only the cell directories its vectors hit,
   * checkpointed exactly-once. The streamed directory is its OWN
   * segment set (the sink's `_spark_metadata` log governs reads of this
   * dir — batch files dropped beside it would be invisible), so compose
   * with a base layout by UNIONING the two partitioned reads; a probe
   * set prunes both sides at listing, and the pruned query stays exact
   * (spec-pinned in StreamingAnnIngestSpec).
   */
  def streamToCellPartitioned(assigned: DataFrame, dir: String,
                              checkpoint: String,
                              partitionCols: Seq[String] = Seq("cell"))
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StateBackend.start(assigned.sparkSession,
      assigned.writeStream.format("parquet")
        .option("path", dir)
        .option("checkpointLocation", checkpoint)
        .partitionBy(partitionCols: _*)
        .outputMode("append"), dir, checkpoint)

  /**
   * Merge live IVF segments into a fresh base layout — the maintenance
   * pass for [[streamToCellPartitioned]]'s accretion (microbatch-sized
   * files degrade cell scans the same way they degrade date scans):
   * reads base ∪ segments, reclusters to `filesPerCell` files per cell,
   * and writes a NEW layout directory (the landing stream's
   * `_spark_metadata` log cannot be rewritten in place, so the merge is
   * a rebuild-and-repoint — swap readers to `outDir`, restart the
   * landing stream against a fresh segment dir, then delete the old
   * pair). O(base + segments) bytes — at 100 TB run it per-cell-group
   * or when the segment share crosses a threshold, like any LSM
   * compaction.
   */
  def mergeCellSegments(spark: SparkSession, baseDir: String,
                        segmentDirs: Seq[String], outDir: String,
                        filesPerCell: Int = 1,
                        touchedOnly: Boolean = false): Unit = {
    if (!touchedOnly) {
      val all = (baseDir +: segmentDirs)
        .map(spark.read.parquet(_))
        .reduce(_ unionByName _)
      all.repartition(col("cell"), pmod(col("vec_id"), lit(filesPerCell)))
        .write.partitionBy("cell").parquet(outDir)
    } else {
      // touched-cells-only merge — the LSM behavior the full rebuild
      // approximates: only cells that RECEIVED segment rows are decoded
      // and reclustered (base sliver pruned at listing by the cell ids);
      // every untouched base cell moves at FILE level (copy — on an
      // object store a metadata/server-side op), so the pass costs
      // O(touched cells' bytes + untouched file metadata), not O(table).
      // Streams hit hot cells, so touched ≪ nCells between merges.
      val touched = segmentDirs.flatMap(listCellDirNames).toSet
      // cell ids are centroid ids (Long) — .toInt overflowed past
      // Int.MaxValue at exactly the corpus scale the LSM path targets
      // (ADVICE r12)
      val touchedIds = touched.toSeq.map(_.drop("cell=".length).toLong)
      Files.createDirectories(Paths.get(outDir))
      if (touched.nonEmpty) {
        val segs = segmentDirs.map(spark.read.parquet(_))
          .reduce(_ unionByName _)
        val baseSliver = spark.read.parquet(baseDir)
          .filter(col("cell").isin(touchedIds: _*))
        baseSliver.unionByName(segs)
          .repartition(col("cell"), pmod(col("vec_id"), lit(filesPerCell)))
          .write.mode("append").partitionBy("cell").parquet(outDir)
      }
      VersionedDir.crashHook("merge-touched-written")
      listCellDirNames(baseDir).filterNot(touched).foreach { name =>
        org.apache.commons.io.FileUtils.copyDirectory(
          Paths.get(baseDir).resolve(name).toFile,
          Paths.get(outDir).resolve(name).toFile)
      }
    }
  }

  /** The `cell=` partition directory names directly under `dir`. */
  private def listCellDirNames(dir: String): Seq[String] =
    VersionedDir.entries(Paths.get(dir))
      .filter(Files.isDirectory(_)).map(_.getFileName.toString)
      .filter(_.startsWith("cell="))

  /**
   * Land a STREAM into the date-partitioned layout: the streaming side
   * of [[writeDatePartitioned]], so ingest lands directly in the form
   * time-bounded readers prune. Append-mode file sink with a checkpoint
   * (exactly-once across restarts); each microbatch writes only the
   * date directories its rows touch. Microbatch-sized files are the
   * cost of streaming landing — [[compactDatePartitions]] is the
   * matching maintenance pass (run it on CLOSED dates: past the
   * watermark horizon no new rows can arrive for a day, so compaction
   * never races an appending writer).
   */
  def streamToDatePartitioned(df: DataFrame, dir: String, checkpoint: String,
                              tsCol: String = "ts")
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StateBackend.start(df.sparkSession,
      df.withColumn(dateCol, to_date(col(tsCol)))
        .writeStream.format("parquet")
        .option("path", dir)
        .option("checkpointLocation", checkpoint)
        .partitionBy(dateCol)
        .outputMode("append"), dir, checkpoint)

  /**
   * Land a documents STREAM into the by-source layout — the ingest half
   * of [[documentsSourcePartitioned]], the documents sibling of
   * [[streamToDatePartitioned]]/[[streamToCellPartitioned]]: each
   * microbatch appends only the `source=` directories its documents
   * hit, checkpointed exactly-once, so a curation ingest stream lands
   * directly in the form the per-source rollups prune (compose with the
   * n_chars banding + manifest via the periodic
   * [[writeDocumentsSourcePartitioned]] recluster +
   * [[refreshFileStats]], exactly like the date layout's
   * landing → compaction → refresh loop).
   */
  def streamToSourcePartitioned(docs: DataFrame, dir: String,
                                checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StateBackend.start(docs.sparkSession,
      docs.writeStream.format("parquet")
        .option("path", dir)
        .option("checkpointLocation", checkpoint)
        .partitionBy("source")
        .outputMode("append"), dir, checkpoint)

  /**
   * Compact the small files of selected date partitions into
   * `filesPerPartition` sorted files each — the maintenance pass that
   * keeps a streaming-landed or incrementally-appended layout readable
   * (a 100 TB table accreting microbatch files degrades to
   * listing-bound scans; per-file row-group clustering also decays when
   * every file holds a minute of data). Rewrites ONLY the partitions
   * `predicate` selects — dynamic partition overwrite leaves every
   * other date directory untouched (byte-identical files, asserted in
   * TableLayoutSpec) — so the pass is O(touched days), never O(table).
   *
   * Run on closed (past-watermark) dates; the rewrite of a partition is
   * atomic at commit but readers racing a compaction of a STILL-OPEN
   * partition could see a day twice or not at all.
   */
  def compactDatePartitions(spark: SparkSession, dir: String,
                            predicate: Column,
                            sortCols: Seq[String] = Seq("user_id", "ts"),
                            filesPerPartition: Int = 1): Unit = {
    // heal BEFORE the partition listing resolves (readDatePartitioned
    // lists eagerly): a partition vanished mid-swap by a crashed prior
    // pass must be visible to THIS compaction, not restored after its
    // frame was already planned without it (the upsert/delete entry-heal
    // rule, r13 crash sweep)
    healRetired(Paths.get(dir))
    val touched = readDatePartitioned(spark, dir).filter(predicate)
    val spread: Column =
      if (filesPerPartition == 1) lit(0)
      else pmod(hash(col(sortCols.head)), lit(filesPerPartition))
    rewritePartitions(spark, dir,
      touched.repartition(col(dateCol), spread), sortCols)
  }

  /**
   * Upsert a batch of rows into the date-partitioned layout with GLOBAL
   * key replacement: an existing row matching an update on `keyCols` is
   * replaced wherever it lives — including a row whose event time moved
   * to a DIFFERENT day, whose old copy is rewritten away in its old
   * partition (ADVICE r10: the day-grain-only form left it alive as a
   * duplicate). The rewrite still touches only the partitions that need
   * it: the updates' target dates plus the dates currently holding an
   * updated key, found by a column-pruned (keyCols + partition column)
   * semi-join scan — at 100 TB that probe reads two narrow columns,
   * never the data, and the rewrite stays O(touched days' bytes). This
   * is the lakehouse `replaceWhere`-merge shape without a table format.
   *
   * Build the merged frame via [[upsertMergedFrame]]; join strategy is
   * AQE's call (no forced broadcast — a large backfill degrades to a
   * shuffled semi/anti join instead of a driver-sized broadcast,
   * spec-pinned in TableLayoutSpec).
   *
   * Atomicity is PER PARTITION, not across the upsert: each touched
   * day swaps in one rename, but a reader racing a multi-day upsert can
   * observe day A already swapped while day B is still old — for a
   * cross-date key move, transiently both copies or neither. Same
   * discipline as [[compactDatePartitions]]: run maintenance on closed
   * dates, or accept the transient skew; without a table format there
   * is no multi-directory commit to make the batch atomic.
   *
   * @param updates new/replacement rows (same schema as the layout's
   *                data columns; `tsCol` decides the target partition)
   * @param keyCols row identity — an existing row matching an update on
   *                `keyCols` is replaced anywhere in the table;
   *                everything else is kept
   * @param keysSpanDates `false` skips the key-location probe scan when
   *                the CALLER guarantees an update never moves a row's
   *                date (immutable event time, corrections only): the
   *                upsert then touches exactly the updates' target
   *                dates and reads nothing else — but a date-moving
   *                update under this setting leaves its old copy alive,
   *                which is the documented trade (spec-pinned)
   */
  def upsertDatePartitions(spark: SparkSession, dir: String,
                           updates: DataFrame, keyCols: Seq[String],
                           tsCol: String = "ts",
                           sortCols: Seq[String] = Seq("user_id", "ts"),
                           keysSpanDates: Boolean = true): Unit = {
    // heal BEFORE the merged frame resolves its partition listing: a
    // partition restored here is visible to this pass's probe/kept scan,
    // where the in-rewritePartitions backstop heals too late for a date
    // in this batch's touched set (ADVICE r11)
    healRetired(Paths.get(dir))
    val (merged, touchedDates) =
      upsertMergedFrame(spark, dir, updates, keyCols, tsCol, keysSpanDates)
    rewritePartitions(spark, dir, merged, sortCols, touchedDates)
  }

  /** The merged frame [[upsertDatePartitions]] writes plus the full
    * touched-date set (update target dates ∪ dates currently holding an
    * updated key) — exposed so plan-shape specs can assert the join
    * strategy without running the write. */
  def upsertMergedFrame(spark: SparkSession, dir: String,
                        updates: DataFrame, keyCols: Seq[String],
                        tsCol: String = "ts",
                        keysSpanDates: Boolean = true): (DataFrame, Seq[String]) = {
    val dated = updates.withColumn(dateCol, to_date(col(tsCol)))
    val layout = readDatePartitioned(spark, dir)
    val updateKeys = dated.select(keyCols.map(col): _*).distinct()
    val targetDates = dated.select(col(dateCol)).distinct()
    // where do the updated keys live TODAY? column-pruned probe scan —
    // skipped under the caller's no-day-moves guarantee
    val touchedDates =
      if (!keysSpanDates) targetDates
      else targetDates.union(
        layout.select((keyCols :+ dateCol).map(col): _*)
          .join(updateKeys, keyCols, "left_semi")
          .select(col(dateCol)).distinct()).distinct()
    val existing = layout.join(touchedDates, Seq(dateCol), "left_semi")
    val kept = existing.join(updateKeys, keyCols, "left_anti")
    val merged = kept.unionByName(
      dated.select(kept.columns.toIndexedSeq.map(col): _*))
      .repartition(col(dateCol))
    val dates = touchedDates.collect().map(r => partDirName(dateCol, r.get(0)))
      .toIndexedSeq
    (merged, dates)
  }

  /**
   * Delete every row matching `keys` on `keyCols` from the layout — the
   * GDPR-delete path ([[upsertDatePartitions]] can only replace, not
   * remove). Same pruning shape as the upsert: a column-pruned semi-join
   * probe finds the partitions holding a doomed key, and only those are
   * rewritten as (existing rows minus matches). A partition whose rows
   * are ALL deleted is removed from the layout entirely (the staged
   * write produces no directory for it; [[rewritePartitions]] retires
   * the empty survivor explicitly).
   */
  def deleteDateKeys(spark: SparkSession, dir: String,
                     keys: DataFrame, keyCols: Seq[String],
                     sortCols: Seq[String] = Seq("user_id", "ts")): Unit = {
    healRetired(Paths.get(dir)) // see upsertDatePartitions: heal before
    // the listing resolves (also covers the empty-touched-set early exit)
    val doomed = keys.select(keyCols.map(col): _*).distinct()
    val layout = readDatePartitioned(spark, dir)
    val touchedDates = layout.select((keyCols :+ dateCol).map(col): _*)
      .join(doomed, keyCols, "left_semi")
      .select(col(dateCol)).distinct()
    val kept = layout.join(touchedDates, Seq(dateCol), "left_semi")
      .join(doomed, keyCols, "left_anti")
      .repartition(col(dateCol))
    val dates = touchedDates.collect().map(r => partDirName(dateCol, r.get(0)))
      .toIndexedSeq
    if (dates.nonEmpty) rewritePartitions(spark, dir, kept, sortCols, dates)
  }

  /**
   * Rewrite only the date partitions present in `frame`: stage the
   * whole frame as a partitioned write to a sibling temp directory
   * (fully distributed — the staging write is the only data motion),
   * then swap each staged `event_date=` directory into the layout with
   * two directory renames (metadata ops). Spark refuses to overwrite a
   * path a plan is reading, and dynamic partition overwrite into the
   * source would hit exactly that — staging sidesteps it and keeps each
   * partition's swap near-atomic. Untouched partitions' files are never
   * opened, let alone rewritten (byte-identity asserted in
   * TableLayoutSpec).
   */
  private def rewritePartitions(spark: SparkSession, dir: String,
                                frame: DataFrame,
                                sortCols: Seq[String],
                                touchedParts: Seq[String] = Seq.empty,
                                partCol: String = dateCol): Unit = {
    val target = Paths.get(dir)
    healRetired(target, partCol)
    val staging = target.resolveSibling(
      s"${target.getFileName}.staging-${java.util.UUID.randomUUID()}")
    frame
      .sortWithinPartitions((partCol +: sortCols).map(col): _*)
      .write.partitionBy(partCol).mode("overwrite").parquet(staging.toString)
    VersionedDir.crashHook("staged")
    try {
      val stagedParts = VersionedDir.entries(staging)
        .filter(_.getFileName.toString.startsWith(s"$partCol="))
      val stagedNames = stagedParts.map(_.getFileName.toString).toSet
      stagedParts.foreach { staged =>
        VersionedDir.swapIn(staged, target.resolve(staged.getFileName.toString))
      }
      VersionedDir.crashHook("swaps-done")
      // a touched partition with no staged counterpart lost ALL its rows
      // (a delete emptied it, or an upsert moved its only keys to other
      // days) — leaving its old directory alive would resurrect the rows
      touchedParts.filterNot(stagedNames).map(target.resolve)
        .filter(Files.isDirectory(_))
        .foreach(p =>
          org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(staging.toFile)
  }

  /** Recover from a crashed partition swap ([[VersionedDir.heal]]'s
    * restore/drop rule over `<partCol>=` directories), so readers see a
    * partition that vanished mid-swap again and the interrupted rewrite
    * can be retried. Also removes ORPHANED STAGING directories: the
    * `<layout>.staging-<uuid>` siblings a pass that died during or right
    * after its staging write abandons (a full copy of every touched
    * partition, which nothing else would ever reclaim — r13 crash
    * sweep), and the `.graft_stats.staging-<uuid>` manifest rewrites
    * [[refreshFileStats]] stages inside the layout. Safe by the
    * single-maintainer discipline every pass here already assumes:
    * staging dirs are consumed only by the pass that created them, so at
    * maintenance ENTRY any survivor is dead. Runs at every maintenance
    * entry, so a crashed swap self-heals instead of wedging. */
  private[graft] def healRetired(target: java.nio.file.Path,
                                 partCol: String = dateCol): Unit = {
    val stagingPrefix = s"${target.getFileName}.staging-"
    Option(target.toAbsolutePath.getParent).toList
      .flatMap(VersionedDir.entries)
      .filter(_.getFileName.toString.startsWith(stagingPrefix))
      .foreach(VersionedDir.delete)
    VersionedDir.entries(target)
      .filter(_.getFileName.toString.startsWith(".graft_stats.staging-"))
      .foreach(VersionedDir.delete)
    VersionedDir.heal(target, s"$partCol=.+")
  }

  /**
   * Z-order (Morton) clustering value over `zCols` — multi-key file
   * clustering for tables read selectively on MORE THAN ONE key, where
   * a single-key sort gives perfect skipping on that key and none on
   * any other. Each column is min/max-scaled to a `bits`-wide integer
   * cell (two scalar aggregates → plan literals) and the cells'
   * bits interleave into one long; sorting on it keeps every file's
   * min/max box TIGHT on all z-keys simultaneously, so a selective
   * filter on ANY of them intersects few files (file-grain receipt in
   * TableLayoutSpec; on plain parquet the same clustering prunes at
   * ROW-GROUP grain via pushed-down min/max stats — file-grain skipping
   * additionally needs a stats-carrying table format or a
   * per-file-stats planner, which is exactly what the spec's
   * input_file_name audit computes).
   *
   * Built from codegen'd built-ins (shift/and/or fold — 2·bits terms),
   * no UDF. Linear min/max scaling keeps the cell math plan-literal and
   * is right for near-uniform keys; under heavy skew it collapses (most
   * rows land in one cell and that key stops contributing order) — use
   * [[zOrderValueRanked]] there: same interleave, quantile cells.
   */
  def zOrderValue(df: DataFrame, zCols: Seq[String], bits: Int = 12): Column = {
    require(zCols.nonEmpty && zCols.size * bits <= 62,
      s"zCols*bits = ${zCols.size * bits} must fit a long")
    val aggs = zCols.flatMap(c => Seq(min(col(c).cast("double")),
      max(col(c).cast("double"))))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val cellMax = (1L << bits) - 1
    val cells = zCols.zipWithIndex.map { case (c, i) =>
      val (lo, hi) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
      if (hi <= lo) lit(0L)
      else least(lit(cellMax), greatest(lit(0L),
        ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(cellMax.toDouble))
          .cast("long")))
    }
    interleaveBits(cells, zCols.size, bits)
  }

  /**
   * Rank-based Z-order cells — the skew-proof scaling [[zOrderValue]]'s
   * scaladoc names: each column's cell is its EQUI-DEPTH quantile bucket
   * (the range-partitioner-boundary construction), so every cell holds
   * ~the same row count whatever the distribution. Under heavy skew the
   * linear form degenerates — a key where 99% of rows share a handful of
   * values maps 99% of the table to cell 0, every file's box spans that
   * cell, and a selective filter on the skewed key prunes NOTHING
   * (spec-demonstrated in TableLayoutSpec); rank cells restore balanced
   * boxes and the ≤half-the-files bound on both keys.
   *
   * Cost model: one `approx_percentile` aggregation over all z-columns
   * (2^bits−1 interior boundaries each → plan literals, same bounded
   * collect-at-build contract as the linear min/max pass), then each
   * row's cell is "how many boundaries ≤ value" — a fold over the
   * boundary array literal, paid once per row at WRITE time only.
   * Duplicate boundaries (a value heavier than a whole quantile step)
   * dedupe away, which merges the indistinguishable cells instead of
   * leaving empty ones. Default `bits = 8` bounds the per-row fold at
   * 255 comparisons; 2 × 8-bit keys already give 65 536 distinct cells
   * — file-count granularity, far past any realistic `numFiles`.
   */
  def zOrderValueRanked(df: DataFrame, zCols: Seq[String],
                        bits: Int = 8): Column = {
    require(zCols.nonEmpty && zCols.size * bits <= 62,
      s"zCols*bits = ${zCols.size * bits} must fit a long")
    val nCells = 1 << bits
    val cellMax = (nCells - 1).toLong
    val probs = (1 until nCells).map(_.toDouble / nCells).toArray
    val aggs = zCols.map(c => percentile_approx(col(c).cast("double"),
      typedlit(probs), lit(10000)))
    val stats = df.agg(aggs.head, aggs.tail: _*).head()
    val cells = zCols.zipWithIndex.map { case (c, i) =>
      val bounds = Option(stats.getSeq[Double](i))
        .getOrElse(Seq.empty).distinct
      if (bounds.isEmpty) lit(0L)
      else {
        // rank ∈ [0, |bounds|]; RESCALE to the full bit width — a low-
        // cardinality key would otherwise occupy only the low Morton
        // bits and the other keys' high bits dominate every file split
        val rank = size(filter(typedlit(bounds),
          b => b <= col(c).cast("double"))).cast("long")
        // Column `/` is double division; values are small enough to be
        // exact, the cast floors back to the integer cell
        (rank * lit(cellMax) / lit(bounds.size.toLong)).cast("long")
      }
    }
    interleaveBits(cells, zCols.size, bits)
  }

  /** Morton interleave: output bit (k·nCols + j) takes cell j's bit k. */
  private def interleaveBits(cells: Seq[Column], nCols: Int,
                             bits: Int): Column =
    (0 until bits).flatMap { k =>
      cells.zipWithIndex.map { case (cell, j) =>
        shiftleft(shiftright(cell, k).bitwiseAND(lit(1L)), k * nCols + j)
      }
    }.reduce(_ bitwiseOR _)

  /**
   * Write `df` Z-order-clustered on `zCols` into `numFiles` files:
   * range-repartition on the z-value (contiguous z-ranges per file →
   * tight per-file boxes), sort within each file on it (row-group-grain
   * clustering inside the file), then drop the helper column.
   * `ranked = true` swaps in [[zOrderValueRanked]]'s equi-depth cells
   * for skewed keys (its own default bit width applies unless `bits`
   * is passed explicitly).
   */
  def writeZOrdered(df: DataFrame, outDir: String, zCols: Seq[String],
                    numFiles: Int, bits: Int = -1,
                    ranked: Boolean = false): Unit = {
    val b = if (bits > 0) bits else if (ranked) 8 else 12
    val z = if (ranked) zOrderValueRanked(df, zCols, b)
            else zOrderValue(df, zCols, b)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(outDir)
  }

  /**
   * Per-file min/max stats manifest over a layout — the catalog half of
   * file-grain data skipping on plain parquet (what Delta/Iceberg carry
   * in their metadata layers): one row per data file with (path, rows,
   * per-column min/max). Built with ONE distributed pass grouped by
   * `input_file_name()` — O(files) output rows, written next to the
   * layout as `_graft_stats`. Rebuild after a maintenance pass
   * ([[compactDatePartitions]]/[[upsertDatePartitions]]) the same way —
   * the build cost is one scan of the touched table, the benefit is
   * every subsequent selective read opening only intersecting files.
   */
  def buildFileStats(spark: SparkSession, dir: String,
                     statsCols: Seq[String]): Unit = {
    val stats = fileStatsFrame(spark, dir, dataFilePaths(spark, dir),
      statsCols)
    stats.coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/_graft_stats")
  }

  /** Per-file stats over `files` with `path` RELATIVE to the layout dir
    * — the manifest must survive the layout being renamed or moved (the
    * [[cachedLayoutDir]] build stages in a temp dir and atomically
    * renames into place; an absolute-path manifest would dangle). One
    * distributed pass grouped by `input_file_name()`, then an O(files)
    * driver-side relativization — the same order as the manifest itself. */
  private def fileStatsFrame(spark: SparkSession, dir: String,
                             files: Seq[String],
                             statsCols: Seq[String]): DataFrame = {
    val data = spark.read.parquet(files: _*)
    val aggs = count(lit(1)).as("rows") +: statsCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    val absolute = data.groupBy(input_file_name().as("path"))
      .agg(aggs.head, aggs.tail: _*)
    val rows = absolute.collect().map { r =>
      org.apache.spark.sql.Row.fromSeq(
        relativePath(dir, r.getString(0)) +: r.toSeq.tail)
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), absolute.schema)
  }

  /** `file` (any URI form `input_file_name`/listStatus renders) relative
    * to layout `dir`. */
  private def relativePath(dir: String, file: String): String = {
    val d = new org.apache.hadoop.fs.Path(dir).toUri.getPath
    val f = new org.apache.hadoop.fs.Path(file).toUri.getPath
    require(f.startsWith(d),
      s"file $f is not under layout dir $d")
    f.substring(d.length).dropWhile(_ == '/')
  }

  /**
   * Stats-pruned read: `bounds` are (column, lo, hi) inclusive ranges;
   * only files whose manifest box intersects EVERY bound are opened
   * (the manifest is O(files) rows — a driver-side collect of the
   * surviving paths, the same listing-grain work a table format's
   * planner does). The predicate itself still applies row-level — stats
   * pruning is a superset guarantee, never a filter. Combined with
   * [[writeZOrdered]] this gives selective multi-key reads on plain
   * parquet; on a single-key-sorted layout it prunes that key alone.
   */
  def readStatsPruned(spark: SparkSession, dir: String,
                      bounds: Seq[(String, Any, Any)]): DataFrame = {
    val manifest = spark.read.parquet(s"$dir/_graft_stats")
    val keep = bounds.foldLeft(manifest) { case (m, (c, lo, hi)) =>
      m.filter(col(s"max_$c") >= lit(lo) && col(s"min_$c") <= lit(hi))
    }
    // manifest paths are layout-relative (see fileStatsFrame)
    val paths = keep.select(col("path")).collect()
      .map(r => s"$dir/${r.getString(0)}")
    val pred = bounds.map { case (c, lo, hi) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    if (paths.isEmpty) {
      // schema-only read: ONE arbitrary data file's footer, not the whole
      // layout (and a clear error when the layout holds no files at all —
      // spark.read.parquet() with zero paths throws an opaque
      // unable-to-infer-schema instead, ADVICE r10)
      val files = dataFilePaths(spark, dir)
      require(files.nonEmpty,
        s"readStatsPruned($dir): manifest pruned every file and the " +
          "layout holds no data files to derive the result schema from")
      spark.read.option("basePath", dir).parquet(files.head)
        .filter(pred).limit(0)
    } else
      // basePath: a partitioned layout's partition columns (source=,
      // cell=) must survive the explicit file-list read — without it a
      // pruned read silently drops them from the schema
      spark.read.option("basePath", dir).parquet(paths.toIndexedSeq: _*)
        .filter(pred)
  }

  /**
   * Incremental manifest maintenance after a layout change
   * ([[compactDatePartitions]], [[upsertDatePartitions]], a streaming
   * landing, a plain append): every rewrite produces NEW file names, so
   * a path diff against the manifest identifies exactly the touched
   * files — dead manifest rows drop, only files the manifest has never
   * seen are scanned. Cost is O(new files) data read + O(manifest)
   * bookkeeping, never a full-table rescan; the refreshed manifest is
   * byte-equivalent to a from-scratch [[buildFileStats]] (spec-pinned).
   * Returns (files added, files dropped) for the caller's bookkeeping.
   * The manifest rewrite stages and swaps (a read path cannot be
   * overwritten in the same plan).
   */
  def refreshFileStats(spark: SparkSession, dir: String,
                       statsCols: Seq[String]): (Long, Long) = {
    val statsDir = s"$dir/_graft_stats"
    val statsPath = new org.apache.hadoop.fs.Path(statsDir)
    val fs = statsPath.getFileSystem(spark.sessionState.newHadoopConf())
    // reclaim a crashed prior refresh's staging at entry (the manifest
    // twin of healRetired's staging sweep — refreshFileStats can run
    // standalone, so it cleans its own scheme; r13 review finding)
    val layoutPath = new org.apache.hadoop.fs.Path(dir)
    if (fs.exists(layoutPath))
      fs.listStatus(layoutPath)
        .filter(_.getPath.getName.startsWith(".graft_stats.staging-"))
        .foreach(st => fs.delete(st.getPath, true))
    if (!fs.exists(statsPath)) {
      buildFileStats(spark, dir, statsCols)
      return (dataFilePaths(spark, dir).size.toLong, 0L)
    }
    // manifest paths are layout-relative; compare in relative space
    // (FileSystem.listStatus renders absolute URIs)
    val current = dataFilePaths(spark, dir)
    val currentRel = current.map(relativePath(dir, _))
    val currentSet = currentRel.toSet
    val manifest = spark.read.parquet(statsDir)
    val known = manifest.select(col("path")).collect()
      .map(_.getString(0)).toSet
    val newPaths = current.zip(currentRel)
      .collect { case (abs, rel) if !known(rel) => abs }
    val keptRel = known.filter(currentSet)
    val dropped = (known.size - keptRel.size).toLong
    val kept = manifest.filter(col("path").isin(keptRel.toIndexedSeq: _*))
    val merged =
      if (newPaths.isEmpty) kept
      else kept.unionByName(
        fileStatsFrame(spark, dir, newPaths.toIndexedSeq, statsCols))
    val staging = s"$dir/.graft_stats.staging-${java.util.UUID.randomUUID()}"
    merged.coalesce(1).write.mode("overwrite").parquet(staging)
    fs.delete(statsPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(staging), statsPath)
    (newPaths.size.toLong, dropped)
  }

  /** All parquet data files under `dir` (recursive), excluding the
    * `_graft_stats` manifest and hidden/metadata entries. */
  private def dataFilePaths(spark: SparkSession, dir: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val out = scala.collection.mutable.ListBuffer.empty[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { s =>
        val name = s.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) ()
        else if (s.isDirectory) walk(s.getPath)
        else if (name.endsWith(".parquet")) out += s.getPath.toString
      }
    walk(root)
    out.toList
  }

  /**
   * Write `df` as a bucketed+sorted catalog table: `nBuckets` buckets on
   * `bucketCol`, each bucket file sorted on `sortCols` (default: the
   * bucket key, which lets a same-key sort-merge join skip its Sort
   * nodes too). Parquet files land under `path`; the bucketing spec
   * lives in the session catalog, which is what lets the planner elide
   * the Exchange for joins/aggregations keyed on `bucketCol`.
   */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCol: String, nBuckets: Int,
                    sortCols: Seq[String] = Seq.empty): Unit = {
    val sorts = if (sortCols.isEmpty) Seq(bucketCol) else sortCols
    df.write.format("parquet").option("path", path)
      .bucketBy(nBuckets, bucketCol)
      .sortBy(sorts.head, sorts.tail: _*)
      .mode("overwrite")
      .saveAsTable(table)
  }
}
