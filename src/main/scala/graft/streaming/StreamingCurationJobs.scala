package graft.streaming

import graft.text.TextAnalysis
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/**
 * End-to-end streaming CURATION topology — the training-data analogue of
 * [[StreamingJobs]]'s ad pipeline, composed from the verified stage
 * operators and wired over the same file-backed topics:
 *
 *  - [[runIngestJob]]: raw docs topic → benchmark n-gram exclusion
 *    ([[decontaminateExclude]]: one per-row probe of a broadcast shingle
 *    set — stateless, one pass, plan size independent of the suite) →
 *    watermarked exact dedup ([[StreamingCuration.exactDedup]], bounded
 *    state) → Gopher quality gate ([[TextAnalysis.qualityGate]],
 *    stateless per-row rules with `text` passed through) → `curated`
 *    topic. The exclusion commutes with both later stages — its verdict
 *    is a deterministic function of content, so excluding before dedup
 *    drops a duplicate pair together and excluding before the gate
 *    intersects the same sets.
 *  - [[runStatsJob]]: consumes the curated topic — the cross-job
 *    dataflow edge, the T5 shape on the curation side — and emits
 *    windowed token counts ([[StreamingCuration.windowedTokenCounts]],
 *    the two-phase exact-distinct rewrite) to a `token_stats` topic.
 *
 * Each query checkpoints under `<workDir>/_checkpoints/<name>`: offsets
 * and dedup/agg state survive restart with exactly-once file sinks —
 * identical recovery semantics to the ad jobs (T6).
 *
 * Admission: every curation job reads its topic through its codec's
 * [[TopicCodec.readStream]], which caps a microbatch by BYTES at one
 * file split per core (`spark.sql.files.maxPartitionBytes` ×
 * `defaultParallelism`, both session settings). A job that falls behind
 * therefore drains its whole backlog in the next microbatch, up to what
 * one wave of tasks reads. Trigger cadence and the state store provider
 * are not job parameters: each query runs the default trigger under the
 * session's provider.
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
   * word `shingleWidth`-gram with the benchmark set — the complement of
   * [[StreamingCuration.decontaminateFlags]] (the flagger REPORTS the
   * matching rows; this drops them), over the same probe.
   *
   * A document is dropped iff one of its shingles is in the index
   * ([[StreamingCuration.benchShingleHit]]'s broadcast probe) — exactly
   * the LEFT ANTI join on `array_contains(shingles, shingle)` against the
   * same index, without the join: every microbatch does one scan, one
   * decode and one Spark job, and no microbatch re-reads the index.
   *
   * The set is not a plan literal: plan and codegen size would grow
   * linearly with the eval suite (megabytes at a real multi-benchmark
   * suite), re-analyzed every trigger. The plan carries only the
   * broadcast handle and prints only the set size. Exactness and the
   * plan-size bound are pinned in StreamingCurationJobsSpec.
   *
   * @param benchIndex a [[StreamingCuration.benchShingleIndex]] frame
   *                   built with the SAME `shingleWidth`; collected once
   */
  def decontaminateExclude(docStream: DataFrame, benchIndex: DataFrame,
                           shingleWidth: Int = 5): DataFrame =
    StreamingCuration.benchShingleHit(benchIndex, shingleWidth)
      .fold(docStream)(hit => docStream.filter(!hit))

  /**
   * Ingest job: `docsTopic` ([[docSchema]] under `codec`) → benchmark
   * exclusion → dedup → gate → `<workDir>/curated`. Returns the started
   * query.
   *
   * @param benchDocs static benchmark frame (doc_id, text) — its shingle
   *                  index is built and broadcast once at job build
   * @param codec     wire codec of the input topic ([[BinaryTopics]] is
   *                  the fixed-width fast path); the curated topic is
   *                  always JSON, the format [[runStatsJob]] reads
   */
  def runIngestJob(spark: SparkSession, docsTopic: String,
                   benchDocs: DataFrame, workDir: String,
                   watermarkDelay: String = "10 seconds",
                   shingleWidth: Int = 5,
                   contractChecks: Seq[graft.contracts.Contracts.Check] =
                     Seq.empty,
                   codec: TopicCodec = JsonStreams): StreamingQuery = {
    val decoded = codec.readStream(spark, docsTopic, docSchema)
    // contract gate FIRST (a pure projection — cheapest stage, and a
    // violating row must not reach dedup state or the curated topic);
    // the violators themselves are recorded by the dead-letter twin
    // [[runQuarantineJob]] consuming the same topic
    val raw =
      if (contractChecks.isEmpty) decoded
      else graft.contracts.Contracts.quarantine(decoded, contractChecks)
        .filter(col("keep")).drop("violations", "keep")
    // exclusion before the stateful dedup: a contaminated row never
    // reaches dedup state
    val cleanRaw = decontaminateExclude(raw,
      StreamingCuration.benchShingleIndex(benchDocs, shingleWidth),
      shingleWidth)
    val deduped = StreamingCuration.exactDedup(cleanRaw,
      timeCol = "ingest_time", watermarkDelay = watermarkDelay)
    val curated = TextAnalysis.qualityGate(deduped,
        passThrough = Seq("text", "ingest_time", "fingerprint"))
      .filter(col("keep"))
      .select(col("doc_id"), col("text"), col("ingest_time"),
        col("fingerprint"), col("n_tokens").cast("long").as("n_tokens"))
    // structured topic (like the ad pipeline's materialized join),
    // JSON under either input codec: its one consumer, the chained stats
    // job, re-reads it as JSON with the declared curatedSchema
    JsonStreams.writeTopic(curated,
      s"$workDir/curated", s"$workDir/_checkpoints/curated")
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
                       workDir: String): StreamingQuery = {
    val decoded = JsonStreams.readStream(spark, docsTopic, docSchema)
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
   * ANN ingest job: `embTopic` ([[embSchema]] under `codec`) →
   * [[graft.similarity.Similarity.annAssignStateless]] against the
   * frozen `model` → `<workDir>/codes` (a topic of (vec_id, cell, code*,
   * recon_error) rows under the same codec, ready to append to the
   * serving codes table). A fully stateless topology — decode +
   * projection + append sink — so the checkpoint carries only source
   * offsets; null/malformed vectors are dropped at decode (vec_id or
   * embedding missing ⇒ no assignment is meaningful).
   *
   * @param model a [[graft.similarity.Similarity.freezeAnnIndex]] of the
   *              landed corpus snapshot — frozen at job build, exactly
   *              like the BM25 router's model
   */
  def runAnnIngestJob(spark: SparkSession, embTopic: String,
                      model: graft.similarity.Similarity.AnnIndexModel,
                      workDir: String,
                      codec: TopicCodec = JsonStreams): StreamingQuery = {
    val raw = codec.readStream(spark, embTopic, embSchema)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) === model.cfg.dim)
    codec.writeTopic(graft.similarity.Similarity.annAssignStateless(raw, model),
      s"$workDir/codes", s"$workDir/_checkpoints/codes")
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
                      codec: TopicCodec = JsonStreams,
                      nCells: Int = 16): StreamingQuery = {
    val dim = corpus.select(size(col("embedding"))).head().getInt(0)
    val raw = codec.readStream(spark, embTopic, embSchema)
      .filter(col("vec_id").isNotNull && col("embedding").isNotNull &&
        size(col("embedding")) === dim)
    graft.sources.TableLayout.streamToCellPartitioned(
      graft.similarity.Similarity.ivfCellAssignmentsAgainst(raw, corpus,
        nCells),
      layoutDir, checkpoint)
  }

  /**
   * Stats job: consumes `<workDir>/curated` (fresh checkpoint = start at
   * the current end, the latest-offset analogue) and emits per-window
   * token occurrence/document-frequency counts to
   * `<workDir>/token_stats`, append-on-window-close.
   */
  def runStatsJob(spark: SparkSession, workDir: String,
                  windowLength: String = "1 minute",
                  watermarkDelay: String = "10 seconds"): StreamingQuery = {
    val curated = JsonStreams.readTopic(spark, s"$workDir/curated", curatedSchema)
    JsonStreams.writeValueTopic(
      JsonStreams.encode(StreamingCuration.windowedTokenCounts(
        curated, windowLength, timeCol = "ingest_time",
        watermarkDelay = watermarkDelay)),
      s"$workDir/token_stats", s"$workDir/_checkpoints/token_stats")
  }
}
