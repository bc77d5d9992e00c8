package graft.streaming

import graft.schema.AdModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType, TimestampType}

/**
 * End-to-end streaming jobs wired over file-backed topics — the runtime
 * topology of the reference's two Flink jobs:
 *
 *  - [[runMainJob]] = flink/flink_job.sql: sources → shared join →
 *    STATEMENT SET fan-out into ctr_results + engagement_results (T4).
 *  - [[runAnomalyJob]] = flink/anomaly_job.sql: consumes the ctr topic —
 *    the cross-job dataflow edge (T5) — and emits anomaly_alerts.
 *
 * Statement-set sharing (SURVEY §7.6): two independent `writeStream`
 * aggregations over the same source would re-read and re-join every record.
 * Here the watermarked dedup+join runs ONCE and is materialized to an
 * intermediate `joined` topic; both windowed aggregations then consume that
 * topic. That is exactly the reference's shared-scan statement set
 * (flink/flink_job.sql:74-120) with the exchange made durable — and at
 * 100 TB it is the difference between one shuffle-heavy join and two.
 *
 * Each query checkpoints under `<workDir>/_checkpoints/<name>` (T6 — the
 * RocksDB-volume analogue, docker-compose.yml:76-78): offsets + join/agg/
 * dedup state survive restart with exactly-once file sinks. The state
 * store provider is a deployment setting, not a job parameter: the jobs
 * use the session's `spark.sql.streaming.stateStore.providerClass`
 * (scope it around a start with [[StateBackend.withProvider]]).
 */
object StreamingJobs {

  /** The deployed main job's tumbling-window width (the reference's
    * TUMBLE INTERVAL '1' MINUTE, flink/flink_job.sql:80). Named so
    * measurement harnesses ([[StreamThroughput.mainJobStep]]'s latency)
    * reconstruct the job's windows from the SAME constant instead of a
    * hardcoded truncation — a width/alignment change there must move
    * both sides or fail loudly, never silently empty the receipt's
    * in/out join (ADVICE r14). */
  val DefaultWindowLength: String = "1 minute"

  /** Flat schema of the materialized join topic (StreamingPipelines). */
  val joinedSchema: StructType = StructType(Seq(
    StructField("impression_id", StringType),
    StructField("user_id", StringType),
    StructField("campaign_id", StringType),
    StructField("ad_id", StringType),
    StructField("device_type", StringType),
    StructField("browser", StringType),
    StructField("event_time", TimestampType),
    StructField("click_id", StringType),
    StructField("click_time", TimestampType)
  ))

  /** Per-batch source admission of the ad jobs' raw topics, in files.
    * Topic files are appended in rough time order, so a cap on files per
    * trigger bounds how far one batch advances the watermark; see
    * [[runMainJob]]'s `maxFilesPerTrigger` for why that matters. */
  val MaxFilesPerTrigger: Int = 8

  /**
   * Main job (flink/flink_job.sql). Input topics are JSON-lines files in
   * the Kafka `value` shape (S1/S2); outputs land in `<workDir>/ctr_results`
   * and `<workDir>/engagement_results` (S7/S8). Returns the three started
   * queries (join materialization + two aggregations) — callers drive them
   * with `processAllAvailable()` / `awaitTermination()` and stop.
   *
   * @param chainedWatermarkDelay watermark delay for consumers of the
   *   materialized joined topic. Across a topic boundary the upstream
   *   join's watermark does not propagate, and unmatched (NULL-padded)
   *   rows with event time T are only written once the upstream watermark
   *   passes `T + joinInterval` — so the downstream delay must be at least
   *   `joinInterval + watermarkDelay + the largest watermark advance in a
   *   single upstream batch`, or those rows arrive "late" and are dropped.
   *   This is inherent to chaining event-time jobs through a topic (the
   *   reference has the same property across its Kafka hop); the default
   *   covers the 10-minute join bound plus a minute of batch advance.
   * @param maxFilesPerTrigger caps per-batch source ingestion. The
   *   chained-delay bound above only holds if no single batch advances
   *   the watermark too far; an unthrottled catch-up after an outage
   *   would ingest hours of backlog in one batch and silently drop every
   *   late-evicted outer-join row downstream. Topic files are appended in
   *   rough time order, so bounding files-per-trigger bounds the advance.
   */
  def runMainJob(spark: SparkSession, imprTopic: String, clickTopic: String,
                 workDir: String,
                 watermarkDelay: String = "5 seconds",
                 joinInterval: String = "INTERVAL 10 MINUTES",
                 windowLength: String = DefaultWindowLength,
                 chainedWatermarkDelay: String = "11 minutes",
                 maxFilesPerTrigger: Int = MaxFilesPerTrigger): Seq[StreamingQuery] = {
    def readValues(topic: String) = spark.readStream
      .option("maxFilesPerTrigger", maxFilesPerTrigger).text(topic)
    val impressions = JsonStreams.decode(readValues(imprTopic), AdModel.impressionSchema)
    val clicks = JsonStreams.decode(readValues(clickTopic), AdModel.clickSchema)

    val joined = StreamingPipelines.joinedStream(
      impressions, clicks, joinInterval, watermarkDelay)
    val joinQuery = JsonStreams.writeTopic(joined,
      s"$workDir/joined", s"$workDir/_checkpoints/joined")

    // Re-watermark after the materialization boundary: a watermark is a
    // per-query property and does not survive the topic round-trip.
    val joinedTopic = JsonStreams
      .readTopic(spark, s"$workDir/joined", joinedSchema)
      .withWatermark("event_time", chainedWatermarkDelay)

    val ctrQuery = JsonStreams.writeValueTopic(
      JsonStreams.encode(StreamingPipelines.ctrByCampaign(joinedTopic, windowLength)),
      s"$workDir/ctr_results", s"$workDir/_checkpoints/ctr_results")
    val engagementQuery = JsonStreams.writeValueTopic(
      JsonStreams.encode(
        StreamingPipelines.engagementByDevice(joinedTopic, windowLength)),
      s"$workDir/engagement_results", s"$workDir/_checkpoints/engagement_results")

    Seq(joinQuery, ctrQuery, engagementQuery)
  }

  /** Raw event-stream topic schema (the `events` table shape, JSON-lines
    * in the Kafka value envelope) — input of [[runAttributionJob]]. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", org.apache.spark.sql.types.LongType),
    StructField("ts", TimestampType),
    StructField("user_id", org.apache.spark.sql.types.LongType),
    StructField("event_type", StringType)))

  /**
   * Attribution job — the topology home of the streaming as-of join
   * ([[StreamingAsOfJoin]]): consumes a raw events topic, splits it into
   * the view/click sides (the registered `asof_join` mapping), and
   * emits one attributed row per click (click → last preceding view by
   * the same user, batch-exact tie rules) to `<workDir>/attributions`,
   * append-on-finalize. Third job in the reference-shaped topology
   * beside the ctr and anomaly jobs, with the same checkpoint/recovery
   * contract (T6); golden streaming-vs-batch parity over file topics is
   * pinned in StreamingAsOfJoinSpec.
   */
  def runAttributionJob(spark: SparkSession, eventsTopic: String,
                        workDir: String,
                        watermarkDelay: String = "10 seconds",
                        finalizeDelayMs: Long = 10000L): StreamingQuery = {
    val ev = JsonStreams.decode(
      spark.readStream.option("maxFilesPerTrigger", MaxFilesPerTrigger)
        .text(eventsTopic), eventSchema)
    def side(t: String) = ev.filter(org.apache.spark.sql.functions.col("event_type") === t)
      .select("event_id", "user_id", "ts")
    val attributed = StreamingAsOfJoin.lastBeforeStream(
      side("view"), side("click"),
      key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id",
      watermarkDelay = watermarkDelay, finalizeDelayMs = finalizeDelayMs)
    JsonStreams.writeValueTopic(JsonStreams.encode(attributed),
      s"$workDir/attributions", s"$workDir/_checkpoints/attributions")
  }

  /**
   * Anomaly job (flink/anomaly_job.sql): reads the ctr_results topic in its
   * sink envelope (S3; `scan.startup.mode = latest-offset` maps to starting
   * this query with a fresh checkpoint — offsets begin at the current end),
   * applies the streaming LAG (§7.5), and writes anomaly_alerts (S9).
   */
  def runAnomalyJob(spark: SparkSession, ctrTopic: String, workDir: String,
                    watermarkDelay: String = "5 seconds"): StreamingQuery = {
    val ctr = JsonStreams.decode(
      spark.readStream.text(ctrTopic), AdModel.ctrResultSchema)
    JsonStreams.writeValueTopic(
      JsonStreams.encode(
        StreamingAnomaly.alerts(ctr, watermarkDelay).toDF()),
      s"$workDir/anomaly_alerts", s"$workDir/_checkpoints/anomaly_alerts")
  }
}
