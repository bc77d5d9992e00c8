package graft.pipelines

import graft.ops.{AnomalyDetect, IntervalJoin, WindowedCounts}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * The reference's two jobs as composable `DataFrame => DataFrame`
 * transformations, shared by batch (oracle/bench) and streaming modes.
 *
 * P1 — flink/flink_job.sql:74-120 (one STATEMENT SET, two INSERTs over a
 *      shared scan+join): CTR-by-campaign and engagement-by-device.
 * P2 — flink/anomaly_job.sql:45-84: spike/drop alerts over P1's ctr output.
 *
 * Inputs are frames with the reference's column names (schema/AdModel):
 * impressions(impression_id, campaign_id, device_type, ..., event_time),
 * clicks(click_id, impression_id, ..., event_time).
 */
object AdPipelines {

  /** J1: shared LEFT interval join of both INSERTs (flink_job.sql:91-95). */
  def joined(impressions: DataFrame, clicks: DataFrame,
             interval: String = "INTERVAL 10 MINUTES"): DataFrame =
    IntervalJoin.leftOuterWithin(impressions, clicks,
      leftKey = "impression_id", rightKey = "impression_id",
      leftTime = "event_time", rightTime = "event_time",
      interval = interval)

  /** Distinct impressions and clicks per (window on impression time,
    * impression column `key`) of the joined frame. */
  private def perWindow(joined: DataFrame, key: String, windowLength: String,
                        withRatio: Boolean): DataFrame =
    WindowedCounts.ctrAgg(joined,
      groupKey = col(s"i.$key"), keyOut = key,
      timeCol = col("i.event_time"), windowLength = windowLength,
      distinctA = col("i.impression_id"), distinctB = col("c.click_id"),
      withRatio = withRatio)

  /** Q1 (flink_job.sql:76-98): ctr per (1-min window, campaign). */
  def ctrByCampaign(joined: DataFrame, windowLength: String = "1 minute"): DataFrame =
    perWindow(joined, "campaign_id", windowLength, withRatio = true)

  /**
   * Q2 (flink_job.sql:100-118): engagement per (window, device). Groups by
   * the RAW device_type and projects COALESCE(device_type,'Unknown') after,
   * exactly as the reference does (group key :118, projection :106).
   */
  def engagementByDevice(joined: DataFrame, windowLength: String = "1 minute"): DataFrame =
    perWindow(joined, "device_type", windowLength, withRatio = false)
      .withColumn("device_type", coalesce(col("device_type"), lit("Unknown")))

  /** P2 (anomaly_job.sql:45-84): alerts from a ctr_result frame. */
  def anomalyAlerts(ctrResults: DataFrame): DataFrame =
    AnomalyDetect.alerts(ctrResults)
}
