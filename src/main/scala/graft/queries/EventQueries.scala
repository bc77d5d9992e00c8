package graft.queries

import graft.ops.{AnomalyDetect, AsOfJoin, IntervalJoin, Sessionize, WindowedCounts}
import graft.pipelines.AdPipelines
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * The reference's ad-analytics pipelines (flink/flink_job.sql,
 * flink/anomaly_job.sql) retargeted onto the driver's `events` table
 * (FIXTURES.md §4) for DuckDB-oracle checks.
 *
 * Mapping (same operator shapes, different column sources):
 *  - impressions := events WHERE event_type = 'view'
 *      impression_id := event_id (globally unique, like uuid4)
 *      campaign_id   := 'camp-' || user_id % 10   (10 campaigns, like the
 *                       generator's camp-{1..10}, generate_events.py:25)
 *      device_type   := bucketed `value` with a NULL band — exercises
 *                       COALESCE→'Unknown' (flink/flink_job.sql:106)
 *  - clicks := events WHERE event_type = 'click'; click_id := event_id
 *  - join key: user_id (events has no impression FK; the equi+range join
 *    shape of flink/flink_job.sql:91-95 is preserved exactly)
 *  - tumbling 1-minute windows on impression time (flink_job.sql:97)
 *
 * Scale: the join stays an equi-join on the key with the time range as a
 * residual filter (SortMergeJoin, not a cartesian range join); distinct
 * counts use Catalyst's exact expand-based path in batch.
 */
object EventQueries {

  /**
   * Shared intermediate frames (see [[SharedFrames]]): the batch analogue
   * of the reference's two sharing edges — the STATEMENT SET's shared
   * scan+join feeding both INSERTs (flink/flink_job.sql:74-120, T4) and
   * the `ctr_results` Kafka topic feeding the anomaly job
   * (flink/anomaly_job.sql:21, T5). Without it each registry query re-ran
   * the full scan+join+agg — at 100 TB that doubles the most expensive job.
   */
  private def memo(spark: SparkSession, sfDir: String, tag: String)
                  (build: => DataFrame): DataFrame =
    SharedFrames.memo(spark, sfDir, tag)(build)

  private def deviceExpr = when(col("value") < 50, "mobile")
    .when(col("value") < 100, "desktop")
    .when(col("value") < 150, lit(null: String))
    .otherwise("tablet")

  /** impressions-like frame from `events`. */
  def impressions(spark: SparkSession, sfDir: String): DataFrame =
    Tables.eventsSpread(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(
        col("event_id").as("impression_id"),
        col("user_id"),
        concat(lit("camp-"), (col("user_id") % 10).cast("string")).as("campaign_id"),
        deviceExpr.as("device_type"),
        col("ts").as("event_time"))

  /** clicks-like frame from `events`. */
  def clicks(spark: SparkSession, sfDir: String): DataFrame =
    Tables.eventsSpread(spark, sfDir)
      .filter(col("event_type") === "click")
      .select(
        col("event_id").as("click_id"),
        col("user_id"),
        col("ts").as("event_time"))

  /**
   * J1 on the events mapping: LEFT interval join, click within 10 min.
   * `user_id` is a hot key (~100 events/user at sf0.1, growing with
   * scale), so this uses the bucketed interval join — equi key
   * (user_id, 10-min bucket) — instead of plain SMJ-with-residual, and
   * the frame is persisted once per (session, sfDir) since both Q1 and
   * Q2 consume it (the reference's shared STATEMENT SET scan).
   */
  def joined(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "joined") {
      IntervalJoin.leftOuterWithinBucketed(
        impressions(spark, sfDir), clicks(spark, sfDir),
        leftKey = "user_id", rightKey = "user_id",
        leftTime = "event_time", rightTime = "event_time",
        intervalMs = 10L * 60 * 1000)
    }

  /**
   * Q1 flagship: ctr per (1-min window, campaign) — flink_job.sql:76-98.
   * Persisted: `anomalyAlerts` chains off this frame (the reference's
   * `ctr_results` topic edge), and recomputing it would double the most
   * expensive job. No output sort — the driver compare sorts rows itself.
   */
  def ctrByCampaign(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "ctr") {
      AdPipelines.ctrByCampaign(joined(spark, sfDir))
    }

  /** Hopping-window knobs shared by the Spark query and its oracle. */
  private[queries] val hopLengthMs = 120000L
  private[queries] val hopSlideMs = 60000L

  /** Q1 on HOPPING windows (2-minute length, 1-minute slide) — the
    * overlapping-window form the reference's TUMBLE cannot express
    * ([[WindowedCounts.ctrAggHopping]]): a burst near a minute boundary
    * is seen whole by the window that covers it instead of being split.
    * Each impression lands in length/slide = 2 windows. */
  def ctrHoppingQ(spark: SparkSession, sfDir: String): DataFrame =
    WindowedCounts.ctrAggHopping(joined(spark, sfDir),
      groupKey = col("i.campaign_id"), keyOut = "campaign_id",
      timeCol = col("i.event_time"),
      windowLength = s"${hopLengthMs / 1000} seconds",
      slide = s"${hopSlideMs / 1000} seconds",
      distinctA = col("i.impression_id"), distinctB = col("c.click_id"),
      withRatio = true)

  /** Q2: engagement per (window, device) — flink_job.sql:100-118. */
  def engagementByDevice(spark: SparkSession, sfDir: String): DataFrame =
    AdPipelines.engagementByDevice(joined(spark, sfDir))

  /** P2: spike/drop alerts chained off Q1's persisted frame —
    * anomaly_job.sql:45-84. */
  def anomalyAlerts(spark: SparkSession, sfDir: String): DataFrame =
    AdPipelines.anomalyAlerts(ctrByCampaign(spark, sfDir))

  /** Impression floor shared by the min-traffic query and its oracle.
    * The reference suggests `> 10` for its 1-minute windows
    * (flink/anomaly_job.sql:59); at the fixture's daily grain (below) 5
    * is the value that actually discriminates — 101 of 300 windows
    * filtered at sf0.01, alerts still emitted. */
  private[queries] val anomalyMinImpressions: Long = 5L

  /** The reference's OPTIONAL low-traffic noise filter, switched ON
    * (`WHERE impression_count > N`, commented out at
    * flink/anomaly_job.sql:58-60): low-traffic windows leave the series
    * before the LAG, so alerts compare against the previous QUALIFYING
    * window. Runs at daily grain — the fixture's events are ~1
    * impression per (campaign, minute), so the reference's minute grain
    * would filter EVERY window and prove nothing; daily windows give the
    * floor a real distribution to cut (same operators, one parameter
    * changed — grain and floor are both knobs, not new code). */
  def anomalyAlertsMinTraffic(spark: SparkSession, sfDir: String): DataFrame =
    AnomalyDetect.alerts(AdPipelines.ctrByCampaign(joined(spark, sfDir), "1 day"),
      minImpressions = anomalyMinImpressions)

  /** Z-score knobs shared by the Spark query and its oracle — ONE set of
    * constants so the frame bounds, warm-up gate and threshold can never
    * disagree between engines. */
  private[queries] val zscoreLookback = 8
  private[queries] val zscoreMinPoints = 3
  private[queries] val zscoreThreshold = 2.0

  /** Rolling z-score detector over hourly impression VOLUME per campaign
    * — the distribution-baseline companion of the reference's LAG-ratio
    * rule (see [[AnomalyDetect.zscoreAlerts]] for why volume, not ctr,
    * is the scored series). One count-aggregate shuffle + one window
    * shuffle, both on campaign_id. */
  /** Hourly impression volume per campaign — one count-aggregate shuffle
    * shared by the z-score detector (reads window_end) and the dense
    * rate series (reads window_start). impression_id := event_id is
    * unique per row, so count(*) == count(distinct) without the expand. */
  private def hourlyVolume(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "hourlyVolume") {
      impressions(spark, sfDir)
        .groupBy(window(col("event_time"), "1 hour").as("w"), col("campaign_id"))
        .agg(count(lit(1)).as("n_impressions"))
        .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
          col("campaign_id"), col("n_impressions"))
    }

  def anomalyZscoreQ(spark: SparkSession, sfDir: String): DataFrame =
    AnomalyDetect.zscoreAlerts(hourlyVolume(spark, sfDir),
      valueCol = "n_impressions",
      lookback = zscoreLookback, minPoints = zscoreMinPoints,
      threshold = zscoreThreshold)

  /** Seasonal floor shared by the Spark query and its oracle. */
  private[queries] val seasonalMinPoints = 4

  /** MAD-detector knobs shared by the Spark query and its oracle. The
    * canonical Iglewicz–Hoaglin cutoff is 3.5; the registered query runs
    * at DAILY grain with threshold 2.0 because the fixture's hourly
    * volumes are ~1/campaign-hour — median 1, MAD 0, so the zero-MAD
    * gate (correctly) suppresses every hourly window and proves nothing.
    * Daily volumes have a real distribution: 35 of 300 windows alert at
    * 2.0 — same knob-not-code reasoning as [[anomalyMinImpressions]]'s
    * daily grain. */
  private[queries] val madMinPoints = 6
  private[queries] val madThreshold = 2.0

  /** Daily impression volume per campaign — the MAD detector's series
    * (hourly is degenerate on this fixture, see [[madThreshold]]). */
  private def dailyVolume(spark: SparkSession, sfDir: String): DataFrame =
    impressions(spark, sfDir)
      .groupBy(window(col("event_time"), "1 day").as("w"), col("campaign_id"))
      .agg(count(lit(1)).as("n_impressions"))
      .select(col("w.end").as("window_end"),
        col("campaign_id"), col("n_impressions"))

  /** Robust (median/MAD) detector over daily volume — the
    * heavy-tail-safe fourth detector ([[AnomalyDetect.madAlerts]]). */
  def anomalyMadQ(spark: SparkSession, sfDir: String): DataFrame =
    AnomalyDetect.madAlerts(dailyVolume(spark, sfDir),
      valueCol = "n_impressions", minPoints = madMinPoints,
      threshold = madThreshold)

  /** Hour-of-day baseline detector over the same hourly volume — the
    * periodicity-aware third detector (see
    * [[AnomalyDetect.seasonalAlerts]]). */
  def anomalySeasonalQ(spark: SparkSession, sfDir: String): DataFrame =
    AnomalyDetect.seasonalAlerts(hourlyVolume(spark, sfDir),
      valueCol = "n_impressions", minPoints = seasonalMinPoints,
      threshold = zscoreThreshold)

  /** Gap-filled hourly rate series per campaign — silence made visible
    * (see [[graft.ops.DenseSeries]]): every hour between a campaign's
    * first and last active hour, zero-filled with an `is_gap` marker.
    * Memoized: the silence-run query consumes this frame. */
  def rateSeriesDenseQ(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "rateDense") {
      graft.ops.DenseSeries.fill(hourlyVolume(spark, sfDir),
        keyCol = "campaign_id", timeCol = "window_start",
        valueCol = "n_impressions", stepExpr = "interval 1 hour")
    }

  /** Silence-run floor shared by the Spark query and its oracle. */
  private[queries] val silenceMinLen = 2

  /** Maximal dark stretches (>= 2 consecutive silent hours) per campaign
    * — the "went dark" alert built on the dense series. */
  def rateSilenceRunsQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.DenseSeries.gapRuns(rateSeriesDenseQ(spark, sfDir),
      keyCol = "campaign_id", timeCol = "window_start",
      stepSeconds = 3600L, minLen = silenceMinLen)

  /** Pairwise device-audience overlap (shared users + Jaccard). The
    * campaign axis is useless here BY CONSTRUCTION — campaign_id is a
    * function of user_id (`camp-` || user_id % 10), so campaign
    * audiences are disjoint; device audiences genuinely overlap because
    * device derives from the per-event `value`. */
  def audienceOverlapQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.AudienceOverlap.jaccard(
      impressions(spark, sfDir).select(
        coalesce(col("device_type"), lit("Unknown")).as("device_type"),
        col("user_id")),
      segCol = "device_type", memberCol = "user_id")

  /**
   * As-of join over the raw events: each click attributed to the most
   * recent view by the same user at or before it — the reference's
   * attribution join shape (flink/flink_job.sql:91-95) without the
   * 10-minute upper bound, via the union-scan rewrite (one shuffle on
   * user_id, no pairwise blowup on hot users — see [[AsOfJoin]]).
   */
  def asofClickView(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.eventsSpread(spark, sfDir)
    AsOfJoin.lastBefore(
      ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts")),
      ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts")),
      key = "user_id", ts = "ts", leftId = "event_id", rightId = "event_id")
  }

  /** Gap shared by the session queries and their oracles — ONE constant
    * so the Spark interval, the stats correction, and both oracle SQL
    * strings can never disagree. */
  private[queries] val sessionGapSeconds: Long = 21600L

  /** Per-user sessions (6-hour inactivity gap) — persisted once per
    * (session, sfDir): `session_stats` is one tiny aggregation over the
    * same frame. */
  /** Ingest-health column profile of the raw event feed. */
  def profileEventsQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.columns(Tables.eventsSpread(spark, sfDir),
      Seq("event_id", "user_id", "event_type", "value", "props"))

  /** The profile's declared 100 TB escape hatch (HLL distinct counts,
    * fixed-size partials) — registered WITHOUT an oracle (sketch values
    * are engine-specific) so the bench times it every round next to the
    * exact form; tolerance vs exact is pinned in spec. */
  def profileEventsApproxQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.columns(Tables.eventsSpread(spark, sfDir),
      Seq("event_id", "user_id", "event_type", "value", "props"),
      exact = false)

  /** Q1's declared 100 TB escape hatch ([[WindowedCounts.ctrAggApprox]]:
    * HLL++ distinct counts, no Expand blow-up) — bench-row-only for the
    * same reason as [[profileEventsApproxQ]]; tolerance pinned in
    * WindowedCountsSpec. */
  def ctrByCampaignApprox(spark: SparkSession, sfDir: String): DataFrame =
    WindowedCounts.ctrAggApprox(joined(spark, sfDir),
      groupKey = col("i.campaign_id"), keyOut = "campaign_id",
      timeCol = col("i.event_time"), windowLength = "1 minute",
      distinctA = col("i.impression_id"), distinctB = col("c.click_id"),
      withRatio = true)

  /** First-touch conversion funnel view → click → purchase. */
  def funnelStagesQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Funnel.stages(Tables.eventsSpread(spark, sfDir),
      Seq("view", "click", "purchase"))

  /** Cohort retention matrix over the raw event stream. Registered with
    * cohort_day cast DATE→TIMESTAMP (UTC midnight): the compare harness
    * reads Spark DATE cells as python date objects but DuckDB DATE as
    * datetime64, so same-day values would mis-compare as types. */
  def userRetentionQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Retention.cohortMatrix(Tables.eventsSpread(spark, sfDir))
      .withColumn("cohort_day", col("cohort_day").cast("timestamp"))

  def userSessionsQ(spark: SparkSession, sfDir: String): DataFrame =
    memo(spark, sfDir, "userSessions") {
      Sessionize.userSessions(
        Tables.eventsSpread(spark, sfDir)
          .select(col("user_id"), col("ts"), col("event_type"), col("value")),
        sessionGapSeconds)
    }

  def sessionStatsQ(spark: SparkSession, sfDir: String): DataFrame =
    Sessionize.sessionStats(userSessionsQ(spark, sfDir), sessionGapSeconds)

  /** Per-user Markov transition matrix over the raw event stream. */
  def eventTransitionsQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Transitions.matrix(Tables.eventsSpread(spark, sfDir))

  /** Embargo knobs shared by the Spark query and its oracle. */
  private[queries] val splitTrainFrac = 0.8
  private[queries] val splitEmbargoMs = 3600000L

  /** Purged temporal train/test split over the event stream — 80% of
    * rows by event time into train, a 1-hour embargo band dropped, the
    * rest test ([[graft.ops.TemporalSplit]]). */
  def eventsTemporalSplitQ(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.TemporalSplit.splitByTime(Tables.eventsSpread(spark, sfDir),
      trainFrac = splitTrainFrac, embargoMs = splitEmbargoMs)

  /** One week's daily rollup over the DATE-PARTITIONED events layout
    * ([[graft.sources.TableLayout.eventsDatePartitioned]]): the date
    * filter prunes at FILE LISTING — 7 of 30 date directories, before
    * any I/O (PartitionFilters + file counts asserted in
    * TableLayoutSpec) — and the aggregate reads only those files. The
    * oracle runs the same rollup over the RAW table: layout moves
    * bytes, never values. Value totals sum in integer micro-units so
    * the result is shuffle-order-independent. */
  def eventsLayoutPruneQ(spark: SparkSession, sfDir: String): DataFrame = {
    val part = graft.sources.TableLayout.eventsDatePartitioned(spark, sfDir)
    part.filter(col("event_date").between("2024-01-08", "2024-01-14"))
      .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("event_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 1e6).cast("long")) / 1e6).as("sum_value"))
  }

  /**
   * Two-key selective rollup over the Z-ORDERED layout + file-stats
   * manifest ([[graft.sources.TableLayout.eventsZOrdered]]): the
   * (user_id, value) box opens only the manifest-intersecting files —
   * file-grain skipping on plain parquet, the multi-key twin of
   * `events_layout_prune`'s listing-time date pruning. Stats pruning is
   * a superset guarantee (the row predicate still applies), so the
   * rollup is EXACT against the raw table whatever the manifest prunes —
   * which is what lets a physical-layout optimization sit behind the
   * value-hashing oracle gate. The ≤-N-files receipt is TableLayoutSpec's
   * job (scan-metrics grain), not the oracle's.
   */
  def eventsZorderBoxQ(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = graft.sources.TableLayout.eventsZOrdered(spark, sfDir)
    graft.sources.TableLayout.readStatsPruned(spark, dir,
        Seq(("user_id", 3L, 5L), ("value", 40.0, 90.0)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        (sum(round(col("value") * 1e6).cast("long")) / 1e6).as("sum_value"))
  }

  // ---------------------------------------------------------------- oracle

  /** Shared DuckDB CTE prefix mirroring impressions/clicks/join above. */
  private val mappingCtes: String =
    """WITH i AS (
      |  SELECT event_id AS impression_id, user_id,
      |         'camp-' || CAST(user_id % 10 AS VARCHAR) AS campaign_id,
      |         CASE WHEN value < 50 THEN 'mobile'
      |              WHEN value < 100 THEN 'desktop'
      |              WHEN value < 150 THEN NULL
      |              ELSE 'tablet' END AS device_type,
      |         make_timestamp(epoch_ms(ts) * 1000) AS event_time
      |  FROM events WHERE event_type = 'view'),
      |c AS (
      |  SELECT event_id AS click_id, user_id, make_timestamp(epoch_ms(ts) * 1000) AS event_time
      |  FROM events WHERE event_type = 'click'),
      |j AS (
      |  SELECT i.impression_id, i.campaign_id, i.device_type,
      |         i.event_time, c.click_id
      |  FROM i LEFT JOIN c ON i.user_id = c.user_id
      |     AND c.event_time BETWEEN i.event_time
      |                          AND i.event_time + INTERVAL 10 MINUTE)""".stripMargin

  /** The ctr aggregation CTE at a given tumble grain — minute for the
    * reference-parity queries, day for the min-traffic variant. The
    * INTERVAL unit derives from the grain so the two can never desync. */
  private def ctrSelectAt(grain: String): String = {
    val interval = grain.toUpperCase
    s"""SELECT CAST(date_trunc('$grain', event_time) AS TIMESTAMP) AS window_start,
       |       CAST(date_trunc('$grain', event_time) + INTERVAL 1 $interval AS TIMESTAMP) AS window_end,
       |       campaign_id,
       |       COUNT(DISTINCT impression_id) AS impression_count,
       |       COUNT(DISTINCT click_id) AS click_count,
       |       CASE WHEN COUNT(DISTINCT impression_id) > 0
       |            THEN CAST(COUNT(DISTINCT click_id) AS DOUBLE) / COUNT(DISTINCT impression_id)
       |            ELSE 0.0 END AS ctr
       |FROM j GROUP BY 1, 2, 3""".stripMargin
  }

  private val ctrSelect: String = ctrSelectAt("minute")

  val ctrOracle: String =
    s"$mappingCtes\n$ctrSelect\nORDER BY window_start, campaign_id"

  /** Hopping-window twin of [[ctrOracle]]: each joined row expands to
    * its length/slide covering windows via generate_series over the
    * slide-aligned window INDEX (integer floor-division in epoch-ms, so
    * boundary semantics — start inclusive, end exclusive — are decided
    * in exact integer math on both engines; Spark's `window(col, len,
    * slide)` uses the same epoch-aligned starts). */
  val ctrHoppingOracle: String = {
    val (l, s) = (hopLengthMs, hopSlideMs)
    s"""$mappingCtes,
       |hop AS (
       |  SELECT j.*,
       |         make_timestamp(g.widx * $s * 1000) AS window_start,
       |         make_timestamp((g.widx * $s + $l) * 1000) AS window_end
       |  FROM j, LATERAL (
       |    SELECT unnest(generate_series(
       |      (epoch_ms(j.event_time) - $l) // $s + 1,
       |      epoch_ms(j.event_time) // $s)) AS widx) g)
       |SELECT window_start, window_end, campaign_id,
       |       COUNT(DISTINCT impression_id) AS impression_count,
       |       COUNT(DISTINCT click_id) AS click_count,
       |       CASE WHEN COUNT(DISTINCT impression_id) > 0
       |            THEN CAST(COUNT(DISTINCT click_id) AS DOUBLE)
       |                 / COUNT(DISTINCT impression_id)
       |            ELSE 0.0 END AS ctr
       |FROM hop GROUP BY 1, 2, 3""".stripMargin
  }

  val engagementOracle: String =
    s"""$mappingCtes
       |SELECT CAST(date_trunc('minute', event_time) AS TIMESTAMP) AS window_start,
       |       CAST(date_trunc('minute', event_time) + INTERVAL 1 MINUTE AS TIMESTAMP) AS window_end,
       |       COALESCE(device_type, 'Unknown') AS device_type,
       |       COUNT(DISTINCT impression_id) AS impression_count,
       |       COUNT(DISTINCT click_id) AS click_count
       |FROM j GROUP BY 1, 2, j.device_type
       |ORDER BY window_start, device_type""".stripMargin

  val anomalyOracle: String =
    s"""$mappingCtes,
       |ctr_results AS ($ctrSelect),
       |with_prev AS (
       |  SELECT window_end, campaign_id, ctr AS current_ctr,
       |         LAG(ctr, 1) OVER (PARTITION BY campaign_id ORDER BY window_end) AS previous_ctr
       |  FROM ctr_results)
       |SELECT window_end AS alert_time, campaign_id, current_ctr, previous_ctr,
       |       CASE WHEN previous_ctr > 0 AND current_ctr > previous_ctr * 2.0 THEN 'SPIKE'
       |            WHEN current_ctr < previous_ctr * 0.5 THEN 'DROP' END AS alert_type
       |FROM with_prev
       |WHERE previous_ctr IS NOT NULL
       |  AND ((previous_ctr > 0 AND current_ctr > previous_ctr * 2.0)
       |       OR current_ctr < previous_ctr * 0.5)
       |ORDER BY alert_time, campaign_id""".stripMargin

  /** [[anomalyOracle]] at daily grain with the noise filter applied
    * BEFORE the LAG — mirroring where the reference's commented WHERE
    * would sit (inside the `ctr_with_previous` view's source,
    * anomaly_job.sql:49-60). */
  val anomalyMinTrafficOracle: String =
    s"""$mappingCtes,
       |ctr_results AS (${ctrSelectAt("day")}),
       |with_prev AS (
       |  SELECT window_end, campaign_id, ctr AS current_ctr,
       |         LAG(ctr, 1) OVER (PARTITION BY campaign_id ORDER BY window_end) AS previous_ctr
       |  FROM ctr_results WHERE impression_count > $anomalyMinImpressions)
       |SELECT window_end AS alert_time, campaign_id, current_ctr, previous_ctr,
       |       CASE WHEN previous_ctr > 0 AND current_ctr > previous_ctr * 2.0 THEN 'SPIKE'
       |            WHEN current_ctr < previous_ctr * 0.5 THEN 'DROP' END AS alert_type
       |FROM with_prev
       |WHERE previous_ctr IS NOT NULL
       |  AND ((previous_ctr > 0 AND current_ctr > previous_ctr * 2.0)
       |       OR current_ctr < previous_ctr * 0.5)
       |ORDER BY alert_time, campaign_id""".stripMargin

  /** Same frame-bounded aggregates and round-before-filter decision rule
    * as [[AnomalyDetect.zscoreAlerts]] — the 6-decimal rounding happens
    * on BOTH sides before the threshold compare, so the emitted row set
    * is decided on identical values. */
  val anomalyZscoreOracle: String =
    s"""$mappingCtes,
       |hourly AS (
       |  SELECT CAST(date_trunc('hour', event_time) + INTERVAL 1 HOUR AS TIMESTAMP)
       |           AS window_end,
       |         campaign_id, CAST(count(*) AS DOUBLE) AS v
       |  FROM i GROUP BY 1, 2),
       |w AS (
       |  SELECT window_end, campaign_id, v,
       |         count(v) OVER pw AS n_prior,
       |         round(avg(v) OVER pw, 6) AS mean_value,
       |         round(stddev_samp(v) OVER pw, 6) AS std_value,
       |         round((v - avg(v) OVER pw) / stddev_samp(v) OVER pw, 6)
       |           AS zscore
       |  FROM hourly
       |  WINDOW pw AS (PARTITION BY campaign_id ORDER BY window_end
       |                ROWS BETWEEN $zscoreLookback PRECEDING
       |                         AND 1 PRECEDING))
       |SELECT window_end AS alert_time, campaign_id, v AS current_value,
       |       mean_value, std_value, zscore,
       |       CASE WHEN zscore > 0 THEN 'HIGH' ELSE 'LOW' END AS alert_type
       |FROM w
       |WHERE n_prior >= $zscoreMinPoints AND std_value > 0
       |  AND abs(zscore) > $zscoreThreshold""".stripMargin

  /** Same leave-one-in (key, hour-of-day) cell statistics and
    * round-before-filter rule as [[AnomalyDetect.seasonalAlerts]]. The
    * cell aggregates are UNORDERED on both engines, so the only
    * permissible cross-engine difference is summation-order float
    * jitter — absorbed by the 6-decimal rounding that both sides apply
    * before the threshold compare. */
  val anomalySeasonalOracle: String =
    s"""$mappingCtes,
       |hourly AS (
       |  SELECT CAST(date_trunc('hour', event_time) + INTERVAL 1 HOUR AS TIMESTAMP)
       |           AS window_end,
       |         campaign_id, CAST(count(*) AS DOUBLE) AS v
       |  FROM i GROUP BY 1, 2),
       |w AS (
       |  SELECT window_end, campaign_id, hour(window_end) AS hour_of_day, v,
       |         count(*) OVER pw AS n_cell,
       |         round(avg(v) OVER pw, 6) AS mean_value,
       |         round(stddev_samp(v) OVER pw, 6) AS std_value,
       |         round((v - avg(v) OVER pw) / stddev_samp(v) OVER pw, 6)
       |           AS zscore
       |  FROM hourly
       |  WINDOW pw AS (PARTITION BY campaign_id, hour(window_end)))
       |SELECT window_end AS alert_time, campaign_id,
       |       CAST(hour_of_day AS INT) AS hour_of_day, v AS current_value,
       |       mean_value, std_value, zscore,
       |       CASE WHEN zscore > 0 THEN 'HIGH' ELSE 'LOW' END AS alert_type
       |FROM w
       |WHERE n_cell >= $seasonalMinPoints AND std_value > 0
       |  AND abs(zscore) > $zscoreThreshold""".stripMargin

  /** Same leave-one-in per-key median/MAD statistics and
    * round-before-filter rule as [[AnomalyDetect.madAlerts]]: DuckDB
    * `quantile_cont` == Spark `percentile` (identical linear
    * interpolation over the identical integer counts), the modified
    * z-score rounded to 6 dp on both sides before the threshold. */
  val anomalyMadOracle: String =
    s"""$mappingCtes,
       |daily AS (
       |  SELECT CAST(date_trunc('day', event_time) + INTERVAL 1 DAY AS TIMESTAMP)
       |           AS window_end,
       |         campaign_id, CAST(count(*) AS DOUBLE) AS v
       |  FROM i GROUP BY 1, 2),
       |w AS (
       |  SELECT window_end, campaign_id, v,
       |         count(*) OVER pw AS n_cell,
       |         quantile_cont(v, 0.5) OVER pw AS med
       |  FROM daily
       |  WINDOW pw AS (PARTITION BY campaign_id)),
       |m AS (
       |  SELECT *, quantile_cont(abs(v - med), 0.5) OVER pw AS mad,
       |         CASE WHEN isnan(0.6745 * (v - med)
       |                / (quantile_cont(abs(v - med), 0.5) OVER pw)) THEN NULL
       |           ELSE floor(0.6745 * (v - med) / (quantile_cont(abs(v - med), 0.5)
       |             OVER pw) * 1000000.0 + 0.5) / 1000000.0 END AS robust_z
       |  FROM w
       |  WINDOW pw AS (PARTITION BY campaign_id))
       |SELECT window_end AS alert_time, campaign_id, v AS current_value,
       |       round(med, 6) AS median_value, round(mad, 6) AS mad_value,
       |       robust_z,
       |       CASE WHEN robust_z > 0 THEN 'HIGH' ELSE 'LOW' END AS alert_type
       |FROM m
       |WHERE n_cell >= $madMinPoints AND mad > 0
       |  AND abs(robust_z) > $madThreshold""".stripMargin

  /** Same floored-percentile cutoff and integer-ms boundary comparisons
    * as [[graft.ops.TemporalSplit.splitByTime]]: DuckDB `quantile_cont`
    * == Spark `percentile` over the identical epoch-ms longs, floored to
    * a BIGINT before any comparison, so the split decision is integer-
    * exact on both engines. */
  val eventsTemporalSplitOracle: String =
    s"""WITH cut AS (
       |  SELECT CAST(floor(quantile_cont(epoch_ms(ts), $splitTrainFrac))
       |    AS BIGINT) AS c
       |  FROM events)
       |SELECT event_id, user_id, make_timestamp(epoch_ms(ts) * 1000) AS ts,
       |       CASE WHEN ts IS NULL THEN 'unsplit'
       |            WHEN epoch_ms(ts) <= c THEN 'train'
       |            WHEN epoch_ms(ts) <= c + $splitEmbargoMs THEN 'embargo'
       |            ELSE 'test' END AS split
       |FROM events, cut""".stripMargin

  /** Same bounds → generate_series axis → LEFT join construction as
    * [[graft.ops.DenseSeries.fill]]; `is_gap` is the join's null marker
    * on both sides, and both `sequence()` and `generate_series()` are
    * inclusive of the upper bound. Shared by the dense-series oracle and
    * the silence-run oracle built on top of it. */
  private val denseSeriesCtes: String =
    s"""$mappingCtes,
       |hourly AS (
       |  SELECT CAST(date_trunc('hour', event_time) AS TIMESTAMP) AS window_start,
       |         campaign_id, count(*) AS n_impressions
       |  FROM i GROUP BY 1, 2),
       |bounds AS (
       |  SELECT campaign_id, min(window_start) AS mn, max(window_start) AS mx
       |  FROM hourly GROUP BY 1),
       |axis AS (
       |  SELECT campaign_id,
       |         unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS window_start
       |  FROM bounds),
       |dense AS (
       |  SELECT a.campaign_id, CAST(a.window_start AS TIMESTAMP) AS window_start,
       |         coalesce(h.n_impressions, 0) AS n_impressions,
       |         h.n_impressions IS NULL AS is_gap
       |  FROM axis a LEFT JOIN hourly h
       |    ON h.campaign_id = a.campaign_id AND h.window_start = a.window_start)""".stripMargin

  val rateSeriesDenseOracle: String =
    s"""$denseSeriesCtes
       |SELECT campaign_id, window_start, n_impressions, is_gap FROM dense""".stripMargin

  /** Same regular-axis island id (`epoch DIV step - row_number`) as
    * [[graft.ops.DenseSeries.gapRuns]] — integer floor-division on both
    * sides, so the island key can never hash-split on float jitter. */
  val rateSilenceRunsOracle: String =
    s"""$denseSeriesCtes,
       |g AS (
       |  SELECT campaign_id, window_start,
       |         CAST(epoch(window_start) AS BIGINT) // 3600
       |           - row_number() OVER (PARTITION BY campaign_id
       |                                ORDER BY window_start) AS island
       |  FROM dense WHERE is_gap)
       |SELECT campaign_id, min(window_start) AS run_start,
       |       max(window_start) AS run_end, count(*) AS run_len
       |FROM g GROUP BY campaign_id, island
       |HAVING count(*) >= $silenceMinLen""".stripMargin

  /** Same distinct-first incidence, `seg_a < seg_b` self-join, and
    * broadcast size attach as [[graft.ops.AudienceOverlap.jaccard]]. */
  val audienceOverlapOracle: String =
    s"""$mappingCtes,
       |inc AS (SELECT DISTINCT coalesce(device_type, 'Unknown') AS seg,
       |               user_id AS member FROM i),
       |sizes AS (SELECT seg, count(*) AS sz FROM inc GROUP BY 1),
       |common AS (
       |  SELECT a.seg AS seg_a, b.seg AS seg_b, count(*) AS n_common
       |  FROM inc a JOIN inc b ON a.member = b.member AND a.seg < b.seg
       |  GROUP BY 1, 2)
       |SELECT seg_a, seg_b, sa.sz AS size_a, sb.sz AS size_b, n_common,
       |       round(CAST(n_common AS DOUBLE) / (sa.sz + sb.sz - n_common), 6)
       |         AS jaccard
       |FROM common
       |JOIN sizes sa ON sa.seg = seg_a
       |JOIN sizes sb ON sb.seg = seg_b""".stripMargin

  /** Replicates [[AsOfJoin.lastBefore]]'s union-scan construction — the
    * same tagged union, the same (ts, side, leftId) order, the same
    * ignore-nulls last-value carry — rather than DuckDB's native ASOF
    * JOIN, so the tie policy (equal-ts left visible, largest leftId
    * wins) is pinned value-for-value, not just "some as-of" semantics. */
  val asofOracle: String =
    """WITH e AS (SELECT event_id, user_id,
      |  make_timestamp(epoch_ms(ts) * 1000) AS ts, event_type FROM events),
      |u AS (
      |  SELECT user_id, ts, 1 AS isl, event_id AS lid, CAST(NULL AS BIGINT) AS rid
      |  FROM e WHERE event_type = 'view' AND event_id IS NOT NULL
      |  UNION ALL
      |  SELECT user_id, ts, 0, NULL, event_id FROM e WHERE event_type = 'click'),
      |w AS (SELECT user_id, ts, isl, rid,
      |  last_value(CASE WHEN isl = 1 THEN lid END IGNORE NULLS) OVER
      |    (PARTITION BY user_id ORDER BY ts, isl DESC, lid ASC NULLS FIRST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mid,
      |  last_value(CASE WHEN isl = 1 THEN ts END IGNORE NULLS) OVER
      |    (PARTITION BY user_id ORDER BY ts, isl DESC, lid ASC NULLS FIRST
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mts
      |  FROM u)
      |SELECT rid AS event_id, user_id, ts, mid AS matched_event_id,
      |  mts AS matched_ts, epoch_ms(ts) - epoch_ms(mts) AS lag_ms
      |FROM w WHERE isl = 0""".stripMargin

  /** Gaps-and-islands replication of `session_window`: new session iff
    * `ts - prev > gap` — STRICT, because Spark merges boundary-adjacent
    * windows (an event at exactly prev + gap extends the session);
    * session_end = last event + gap. */
  /** One UNION ALL arm per profiled column, counts exact. */
  val profileEventsOracle: String = {
    val armFor = Seq("event_id", "user_id", "event_type", "value", "props")
      .map(c => s"""SELECT '$c' AS column, count(*) AS n_rows,
                   |  count(*) - count($c) AS n_nulls,
                   |  count(DISTINCT $c) AS n_distinct FROM events""".stripMargin)
    armFor.mkString("\nUNION ALL ")
  }

  /** Same chained conditional-min construction as `Funnel.stages`
    * (at-or-after `>=` hop rule); lag averages exact integer ms. */
  val funnelStagesOracle: String =
    """WITH e AS (SELECT user_id, event_type,
      |    make_timestamp(epoch_ms(ts) * 1000) AS ts FROM events),
      |s1 AS (SELECT user_id, min(ts) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY 1),
      |s2 AS (SELECT e.user_id, t1, min(ts) AS t2 FROM e
      |       JOIN s1 ON s1.user_id = e.user_id
      |       WHERE event_type = 'click' AND ts >= t1 GROUP BY 1, 2),
      |s3 AS (SELECT e.user_id, t2, min(ts) AS t3 FROM e
      |       JOIN s2 ON s2.user_id = e.user_id
      |       WHERE event_type = 'purchase' AND ts >= t2 GROUP BY 1, 2)
      |SELECT 1 AS stage, 'view' AS stage_name, count(*) AS n_users,
      |       CAST(NULL AS DOUBLE) AS mean_lag_ms FROM s1
      |UNION ALL SELECT 2, 'click', count(*),
      |       round(avg(epoch_ms(t2) - epoch_ms(t1)), 6) FROM s2
      |UNION ALL SELECT 3, 'purchase', count(*),
      |       round(avg(epoch_ms(t3) - epoch_ms(t2)), 6) FROM s3""".stripMargin

  /** Same distinct-activity → first-day → cohort rollup as
    * `Retention.cohortMatrix`; the ms truncation mirrors Tables.events. */
  val userRetentionOracle: String =
    """WITH a AS (SELECT DISTINCT user_id,
      |    CAST(make_timestamp(epoch_ms(ts) * 1000) AS DATE) AS day
      |  FROM events),
      |f AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1)
      |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
      |       CAST(day - cohort_day AS INT) AS day_offset,
      |       count(DISTINCT a.user_id) AS n_users
      |FROM a JOIN f ON f.user_id = a.user_id
      |GROUP BY 1, 2""".stripMargin

  val userSessionsOracle: String =
    s"""WITH e AS (SELECT user_id, make_timestamp(epoch_ms(ts) * 1000) AS ts,
       |  event_type, value FROM events),
       |x AS (SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
       |    OR epoch_ms(ts) - epoch_ms(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
       |       > ${sessionGapSeconds * 1000L}
       |    THEN 1 ELSE 0 END AS ns FROM e),
       |s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL $sessionGapSeconds SECOND AS session_end,
       |  count(*) AS n_events,
       |  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchases,
       |  round(sum(value), 6) AS total_value
       |FROM s GROUP BY user_id, sid""".stripMargin

  val sessionStatsOracle: String =
    s"""SELECT CAST(least(n_events, 5) AS INT) AS n_events_bucket,
       |  count(*) AS n_sessions,
       |  round(avg(span), 6) AS mean_span_sec,
       |  round(max(span), 6) AS max_span_sec,
       |  CAST(sum(n_purchases) AS BIGINT) AS n_purchases
       |FROM (SELECT n_events, n_purchases,
       |        (epoch_ms(session_end) - epoch_ms(session_start)) / 1000.0
       |          - $sessionGapSeconds AS span
       |      FROM ($userSessionsOracle) z) y
       |GROUP BY 1""".stripMargin

  /** Same `(ts, event_id)` tie-pinned lag as `Transitions.matrix`. */
  val eventTransitionsOracle: String =
    """WITH e AS (SELECT user_id, event_id,
      |    make_timestamp(epoch_ms(ts) * 1000) AS ts, event_type FROM events),
      |h AS (SELECT coalesce(lag(event_type) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id), '__start') AS prev_type,
      |    event_type FROM e),
      |c AS (SELECT prev_type, event_type, count(*) AS n_transitions
      |      FROM h GROUP BY 1, 2)
      |SELECT prev_type, event_type, n_transitions,
      |  round(CAST(n_transitions AS DOUBLE)
      |        / sum(n_transitions) OVER (PARTITION BY prev_type), 6)
      |    AS p_transition
      |FROM c""".stripMargin

  /** Same rollup over the raw table — the layout must not change values.
    * Date grain is unaffected by the ms truncation, so plain
    * CAST(ts AS DATE) matches `to_date` on the normalized column. */
  val eventsLayoutPruneOracle: String =
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
      |  event_type, count(*) AS n_events,
      |  sum(CAST(round(value * 1e6) AS BIGINT)) / 1e6 AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
      |GROUP BY 1, 2""".stripMargin

  /** Raw-table twin of the stats-pruned box rollup — stats pruning is a
    * superset + row filter, so the grouped sums must match exactly. */
  val eventsZorderBoxOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  sum(CAST(round(value * 1e6) AS BIGINT)) / 1e6 AS sum_value
      |FROM events
      |WHERE user_id BETWEEN 3 AND 5 AND value BETWEEN 40.0 AND 90.0
      |GROUP BY 1""".stripMargin

  val all: Seq[NamedQuery] = Seq(
    NamedQuery("ctr_by_campaign", ctrByCampaign, Some(ctrOracle)),
    // the declared scale escape hatches, timed every round: no oracle
    // (sketch values are engine-specific) → the driver's weaker
    // rows-only check; exact-vs-approx tolerance is spec-pinned
    NamedQuery("ctr_by_campaign_approx", ctrByCampaignApprox, None),
    NamedQuery("ctr_hopping", ctrHoppingQ, Some(ctrHoppingOracle)),
    NamedQuery("engagement_by_device", engagementByDevice, Some(engagementOracle)),
    NamedQuery("anomaly_alerts", anomalyAlerts, Some(anomalyOracle)),
    NamedQuery("anomaly_min_traffic", anomalyAlertsMinTraffic,
      Some(anomalyMinTrafficOracle)),
    NamedQuery("anomaly_zscore", anomalyZscoreQ, Some(anomalyZscoreOracle)),
    NamedQuery("anomaly_seasonal", anomalySeasonalQ,
      Some(anomalySeasonalOracle)),
    NamedQuery("anomaly_mad", anomalyMadQ, Some(anomalyMadOracle)),
    NamedQuery("rate_series_dense", rateSeriesDenseQ,
      Some(rateSeriesDenseOracle)),
    NamedQuery("rate_silence_runs", rateSilenceRunsQ,
      Some(rateSilenceRunsOracle)),
    NamedQuery("audience_overlap", audienceOverlapQ,
      Some(audienceOverlapOracle)),
    NamedQuery("asof_join", asofClickView, Some(asofOracle)),
    NamedQuery("user_sessions", userSessionsQ, Some(userSessionsOracle)),
    NamedQuery("user_retention", userRetentionQ, Some(userRetentionOracle)),
    NamedQuery("funnel_stages", funnelStagesQ, Some(funnelStagesOracle)),
    NamedQuery("profile_events", profileEventsQ, Some(profileEventsOracle)),
    NamedQuery("profile_events_approx", profileEventsApproxQ, None),
    NamedQuery("session_stats", sessionStatsQ, Some(sessionStatsOracle)),
    NamedQuery("event_transitions", eventTransitionsQ,
      Some(eventTransitionsOracle)),
    NamedQuery("events_temporal_split", eventsTemporalSplitQ,
      Some(eventsTemporalSplitOracle)),
    NamedQuery("events_layout_prune", eventsLayoutPruneQ,
      Some(eventsLayoutPruneOracle)),
    NamedQuery("events_zorder_box", eventsZorderBoxQ,
      Some(eventsZorderBoxOracle)))
}
