package graft.streaming

import graft.text.{TextAnalysis, TextOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/**
 * End-to-end streaming CURATION topology — the training-data analogue of
 * [[StreamingJobs]]'s ad pipeline, composed from the verified stage
 * operators and wired over the same file-backed topics:
 *
 *  - [[runIngestJob]]: raw docs topic → benchmark n-gram exclusion
 *    ([[decontaminateExclude]]: a Bloom-bitmap pre-filter literal —
 *    mBits-bounded, NOT suite-sized — plus a broadcast anti-join exact
 *    verify of the rare candidates; stateless, and deliberately FIRST:
 *    its clean/candidate split duplicates its upstream subtree per
 *    microbatch, so it runs where upstream is just the decode, see the
 *    method doc) → watermarked exact dedup
 *    ([[StreamingCuration.exactDedup]], bounded state) → Gopher quality
 *    gate ([[TextAnalysis.qualityGate]], stateless per-row rules with
 *    `text` passed through) → `curated` topic. The exclusion commutes
 *    with both later stages — its verdict is a deterministic function
 *    of content, so excluding before dedup drops a duplicate pair
 *    together and excluding before the gate intersects the same sets.
 *  - [[runStatsJob]]: consumes the curated topic — the cross-job
 *    dataflow edge, the T5 shape on the curation side — and emits
 *    windowed token counts ([[StreamingCuration.windowedTokenCounts]],
 *    the two-phase exact-distinct rewrite) to a `token_stats` topic.
 *
 * Each query checkpoints under `<workDir>/_checkpoints/<name>`: offsets
 * and dedup/agg state survive restart with exactly-once file sinks —
 * identical recovery semantics to the ad jobs (T6).
 *
 * Scale notes: the only stateful operators are the ingest dedup (state
 * GC'd at the watermark horizon) and the windowed count aggregations
 * (state GC'd on window close); the gate and the benchmark exclusion are
 * pure projections, so the pipeline's state footprint is independent of
 * corpus size. Chaining through the topic re-watermarks on the consumer
 * side, as every cross-job hop must.
 */
object StreamingCurationJobs {

  /** Raw ingest topic schema (JSON-lines in the Kafka value shape). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("ingest_time", TimestampType)))

  /** Curated topic schema: survivors with fingerprint + gate metrics. */
  val curatedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("ingest_time", TimestampType),
    StructField("fingerprint", StringType),
    StructField("n_tokens", LongType)))

  /**
   * The stateless benchmark-overlap exclusion: drops every row sharing a
   * word `shingleWidth`-gram with the benchmark set. Two cooperating
   * stateless stages (no state, no watermark interaction — the inline
   * sibling of [[StreamingCuration.decontaminateFlags]]: the flagger
   * REPORTS matches and needs per-doc dedup state; this FILTERS, which
   * pure per-microbatch operators can do):
   *
   *  1. a BLOOM pre-filter projection: the benchmark shingles' k salted
   *     hash positions are folded into ONE fixed-size bitmap literal
   *     (`mBits/64` longs — a MEMORY-BUDGET knob, NOT a function of the
   *     eval-suite size; same bitmap/probe SHAPE as
   *     [[graft.text.Dedup.bloomDedupAudit]], with codegen'd xxhash64
   *     positions since r13 — see the note at `pos`). A document none of whose
   *     shingles fully hit the bitmap provably shares no benchmark
   *     shingle (Bloom admits no false negatives) and passes immediately
   *     — the overwhelming majority of a clean corpus, at k md5 probes
   *     per shingle regardless of benchmark size.
   *  2. exact verification of the (rare) bitmap candidates: a per-
   *     microbatch LEFT ANTI join against the BROADCAST benchmark
   *     shingle index (`array_contains` condition — a broadcast
   *     nested-loop over candidates only). True matches drop; Bloom
   *     false positives survive, so the output is EXACTLY the old
   *     `arrays_overlap`-against-literal semantics.
   *
   * The pre-r9 form folded every distinct benchmark shingle into the
   * plan as a string-array literal — correct for benchmark-sized sets,
   * but plan/codegen size grew linearly with the eval suite (megabytes
   * at a real multi-benchmark suite). Here the plan carries only the
   * bitmap; the full shingle set travels once as a data-plane BROADCAST
   * to the anti join. Exactness + the plan-size bound are pinned in
   * StreamingCurationJobsSpec.
   *
   * PLACEMENT: the clean/candidate split is a union of two filters over
   * `docStream`, and a streaming self-union re-plans the upstream
   * subtree once per branch — apply this operator EARLY, upstream of
   * any stateful stage (as [[runIngestJob]] does, right after decode):
   * there the duplication costs one extra stateless decode pass per
   * microbatch, while downstream of a stateful dedup it would double
   * the state stores and change the checkpoint operator layout.
   *
   * @param benchIndex a [[StreamingCuration.benchShingleIndex]] frame
   *                   built with the SAME `shingleWidth`; caller-persisted
   *                   for multi-batch streams (the exact-verify side
   *                   re-reads it every microbatch)
   * @param mBits      bitmap width in bits (multiple of 64); defaults to
   *                   ~16 bits per benchmark shingle (≈0.1% false-positive
   *                   rate at k=5), clamped to [2^16, 2^23] — 8 KiB to
   *                   1 MiB of plan literal, whatever the suite size
   */
  def decontaminateExclude(docStream: DataFrame, benchIndex: DataFrame,
                           shingleWidth: Int = 5, kHashes: Int = 5,
                           mBits: Option[Int] = None): DataFrame = {
    val nShingles = benchIndex.count()
    if (nShingles == 0L) return docStream
    val m = mBits.getOrElse {
      var p = 1 << 16
      while (p < 16L * nShingles && p < (1 << 23)) p <<= 1
      p
    }
    require(m > 0 && m % 64 == 0, s"mBits $m must be a positive multiple of 64")
    // native XXH64 positions + whole-document probe (r13), NOT the
    // md5→conv / exists∘forall Column composition: the probe side
    // evaluates k positions per shingle per DOCUMENT (~180 at the
    // defaults), and higher-order functions run as INTERPRETED lambdas
    // with a boxed position array per shingle — that loop was the
    // measured curation-ingest wall (BASELINE.md r13: the candidate
    // evaluation ALONE fell behind at 16k docs/s while a double decode,
    // shingling, dedup and the gate each kept pace). Build and probe
    // share one hash implementation (graftshim.BloomExpressions), the
    // only property Bloom correctness needs; membership is decided by
    // the exact anti join, so output semantics are unchanged (pinned in
    // StreamingCurationJobsSpec). (graft.text.Dedup.bloomDedupAudit
    // keeps its md5 scheme: its audit NUMBERS are oracle-replayed in
    // DuckDB, where XXH64 does not exist.)
    //
    // distributed bitmap build: positions group by WORD index and OR into
    // that word's bits executor-side (bit_or partials combine map-side, so
    // the shuffle carries ≤ m/64 rows), and the driver collects one
    // already-OR'd long per non-empty word — a ≤ m/64-row bounded collect
    // (the same shape as the PQ codebook), with no per-position driver
    // loop. bit_or is idempotent, so no distinct pass is needed.
    val words = new Array[Long](m / 64)
    benchIndex
      .select(explode(graft.functions.VectorFunctions.bloomPositions(
        col("shingle"), lit(kHashes), lit(m))).as("p"))
      .groupBy((col("p") / 64).cast("int").as("w"))
      .agg(bit_or(expr("shiftleft(1L, cast(p % 64 as int))")).as("bits"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    val shingleArr = array_distinct(
      TextOps.shingles(TextOps.tokens(col("text")), shingleWidth))
    // ONE codegen'd node per document: loops shingles × k probes over a
    // primitive long[] reference object, short-circuiting — no lambda
    // frames, no per-probe allocation, bitmap in the plan exactly once
    val candidate = graft.functions.VectorFunctions.bloomShingleHit(
      shingleArr, typedLit(words.toSeq), lit(kHashes))
    val clean = docStream.filter(!candidate)
    val verified = docStream.filter(candidate)
      .withColumn("__sh", shingleArr)
      .join(broadcast(benchIndex),
        array_contains(col("__sh"), col("shingle")), "left_anti")
      .drop("__sh")
    clean.unionByName(verified)
  }

  /** Decode `topic` with the declared schema under the chosen wire
    * codec — `"json"` (text-lines, [[JsonStreams]]; the reference's
    * format and the default) or `"binary"` ([[BinaryTopics]], the
    * measured-throughput path). Same tolerance class either way:
    * damaged records drop, they never fail the query. */
  private def readDecoded(spark: SparkSession, topic: String,
                          schema: StructType, codec: String,
                          maxFilesPerTrigger: Int): DataFrame = codec match {
    case "json" => JsonStreams.decode(
      spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger)
        .text(topic),
      schema)
    case "binary" => BinaryTopics.readTopic(spark, topic, schema,
      maxFilesPerTrigger)
    case other => throw new IllegalArgumentException(
      s"unknown topic codec '$other' (json | binary)")
  }

  /**
   * Ingest job: `docsTopic` ([[docSchema]] under `codec`) → dedup →
   * gate → benchmark exclusion → `<workDir>/curated`. Returns the
   * started query.
   *
   * @param benchDocs static benchmark frame (doc_id, text) — its shingle
   *                  index is built once at job build, persisted for the
   *                  job's lifetime (the exclusion's exact-verify side
   *                  re-reads it every microbatch), and its Bloom bitmap
   *                  folded into the plan
   * @param codec     wire codec of BOTH the input topic and the curated
   *                  output topic ("json" default, "binary" the
   *                  fixed-width fast path — see [[BinaryTopics]])
   */
  def runIngestJob(spark: SparkSession, docsTopic: String,
                   benchDocs: DataFrame, workDir: String,
                   watermarkDelay: String = "10 seconds",
                   shingleWidth: Int = 5,
                   maxFilesPerTrigger: Int = 8,
                   stateStoreProvider: Option[String] = None,
                   contractChecks: Seq[graft.contracts.Contracts.Check] =
                     Seq.empty,
                   codec: String = "json",
                   triggerInterval: Option[String] = None): StreamingQuery =
    StateBackend.withProvider(spark, stateStoreProvider) {
    val decoded = readDecoded(spark, docsTopic, docSchema, codec,
      maxFilesPerTrigger)
    // contract gate FIRST (a pure projection — cheapest stage, and a
    // violating row must not reach dedup state or the curated topic);
    // the violators themselves are recorded by the dead-letter twin
    // [[runQuarantineJob]] consuming the same topic
    val raw =
      if (contractChecks.isEmpty) decoded
      else graft.contracts.Contracts.quarantine(decoded, contractChecks)
        .filter(col("keep")).drop("violations", "keep")
    // job-scoped cache: the index outlives this builder (every microbatch
    // of the exclusion's anti join probes it), so it is persisted here
    // once per STARTED JOB — not per operator call — and released with
    // the session, the same ownership as the job's checkpoint state
    val benchIndex = StreamingCuration
      .benchShingleIndex(benchDocs, shingleWidth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // exclusion FIRST (see its PLACEMENT note): upstream of the split is
    // only the decode, so the branch duplication never touches state
    val cleanRaw = decontaminateExclude(raw, benchIndex, shingleWidth)
    val deduped = StreamingCuration.exactDedup(cleanRaw,
      timeCol = "ingest_time", watermarkDelay = watermarkDelay)
    val curated = TextAnalysis.qualityGate(deduped,
        passThrough = Seq("text", "ingest_time", "fingerprint"))
      .filter(col("keep"))
      .select(col("doc_id"), col("text"), col("ingest_time"),
        col("fingerprint"), col("n_tokens").cast("long").as("n_tokens"))
    // structured topic (like the ad pipeline's materialized join): the
    // chained stats job re-reads it with the declared curatedSchema,
    // under the same codec as the input side
    val trig = triggerInterval.map(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(_))
    if (codec == "binary")
      BinaryTopics.writeTopic(curated,
        s"$workDir/curated", s"$workDir/_checkpoints/curated", trig)
    else JsonStreams.writeTopic(curated,
      s"$workDir/curated", s"$workDir/_checkpoints/curated", trig)
  }

  /**
   * Dead-letter twin of [[runIngestJob]]'s contract gate: consumes the
   * SAME docs topic (the Kafka DLQ topology — two independent consumers,
   * own checkpoint) and lands every contract-violating row with its
   * semicolon-joined violation list on `<workDir>/quarantine`, where the
   * data-quality owner triages it. Stateless end to end — decode +
   * projection + filter — so the checkpoint carries only source offsets,
   * and together with the gated ingest job every decoded row lands on
   * exactly one of curated-or-quarantine (modulo the ingest job's own
   * dedup/gate/exclusion drops), asserted in ContractsSpec.
   */
  def runQuarantineJob(spark: SparkSession, docsTopic: String,
                       contractChecks: Seq[graft.contracts.Contracts.Check],
                       workDir: String,
                       maxFilesPerTrigger: Int = 8): StreamingQuery = {
    val decoded = JsonStreams.decode(
      spark.readStream.option("maxFilesPerTrigger", maxFilesPerTrigger)
        .text(docsTopic),
      docSchema)
    JsonStreams.writeTopic(
      graft.contracts.Contracts.quarantine(decoded, contractChecks)
        .filter(!col("keep")).drop("keep"),
      s"$workDir/quarantine", s"$workDir/_checkpoints/quarantine")
  }

  /** Embedding ingest topic schema (JSON-lines in the Kafka value shape). */
  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.DoubleType))))

  /**
   * ANN ingest job: `embTopic` (JSON-lines, [[embSchema]]) →
   * [[StreamingCuration.annIngestStream]] against the frozen `model` →
   * `<workDir>/codes` (JSON topic of (vec_id, cell, code*, recon_error)
   * rows, ready to append to the serving codes table). A fully stateless
   * topology — decode + projection + append sink — so the checkpoint
   * carries only source offsets; null/malformed vectors are dropped at
   * decode (vec_id or embedding missing ⇒ no assignment is meaningful).
   *
   * @param model a [[graft.similarity.Similarity.freezeAnnIndex]] of the
   *              landed corpus snapshot — frozen at job build, exactly
   *              like the BM25 router's model
   */
  def runAnnIngestJob(spark: SparkSession, embTopic: String,
                      model: graft.similarity.Similarity.AnnIndexModel,
                      workDir: String,
                      maxFilesPerTrigger: Int = 8,
                      codec: String = "json",
                      triggerInterval: Option[String] = None): StreamingQuery = {
    val raw = readDecoded(spark, embTopic, embSchema, codec,
      maxFilesPerTrigger)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) === model.cfg.dim)
    val codes = StreamingCuration.annIngestStream(raw, model)
    // a stateless job's microbatch cost is mostly FIXED (listing +
    // planning + sink commit): at high arrival rates the default
    // as-fast-as-possible trigger spends it on small batches, so a
    // processing-time trigger that accumulates more files per cycle
    // amortizes the floor — the measured knob in BASELINE.md r11
    val trig = triggerInterval.map(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(_))
    if (codec == "binary")
      BinaryTopics.writeTopic(codes,
        s"$workDir/codes", s"$workDir/_checkpoints/codes", trig)
    else JsonStreams.writeTopic(codes,
      s"$workDir/codes", s"$workDir/_checkpoints/codes", trig)
  }

  /**
   * ANN ingest, LAYOUT form: embeddings topic → frozen-cell assignment
   * ([[graft.similarity.Similarity.ivfCellAssignmentsAgainst]] against
   * the static corpus) → live cell segments
   * ([[graft.sources.TableLayout.streamToCellPartitioned]]) — the
   * disk-index sibling of [[runAnnIngestJob]]'s codes topic: instead of
   * emitting PQ codes for a downstream consumer, arrivals land directly
   * in the cell-partitioned form `similarity_ivf_pruned`-style readers
   * prune. Stateless (one bounded centroid collect at build, map-side
   * assignment per row); wrong-dimension and null vectors drop at the
   * gate like the codes job.
   */
  def runAnnLayoutJob(spark: SparkSession, embTopic: String,
                      corpus: DataFrame, layoutDir: String,
                      checkpoint: String,
                      maxFilesPerTrigger: Int = 8,
                      codec: String = "json",
                      nCells: Int = 16,
                      triggerInterval: Option[String] = None): StreamingQuery = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val raw = readDecoded(spark, embTopic, embSchema, codec,
      maxFilesPerTrigger)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) === dim)
    graft.sources.TableLayout.streamToCellPartitioned(
      graft.similarity.Similarity.ivfCellAssignmentsAgainst(raw, corpus,
        nCells),
      layoutDir, checkpoint,
      triggerInterval.map(
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(_)))
  }

  /**
   * Stats job: consumes `<workDir>/curated` (fresh checkpoint = start at
   * the current end, the latest-offset analogue) and emits per-window
   * token occurrence/document-frequency counts to
   * `<workDir>/token_stats`, append-on-window-close.
   */
  def runStatsJob(spark: SparkSession, workDir: String,
                  windowLength: String = "1 minute",
                  watermarkDelay: String = "10 seconds",
                  stateStoreProvider: Option[String] = None): StreamingQuery =
    StateBackend.withProvider(spark, stateStoreProvider) {
    val curated = JsonStreams.readTopic(spark, s"$workDir/curated", curatedSchema)
    JsonStreams.writeValueTopic(
      JsonStreams.encode(StreamingCuration.windowedTokenCounts(
        curated, windowLength, timeCol = "ingest_time",
        watermarkDelay = watermarkDelay)),
      s"$workDir/token_stats", s"$workDir/_checkpoints/token_stats")
  }
}
