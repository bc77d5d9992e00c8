package graft

import graft.fixtures.AdEventGenerator
import graft.ops.EventTime
import graft.pipelines.AdPipelines
import graft.schema.AdModel
import graft.streaming.{StateBackend, StreamingJobs}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/**
 * End-to-end runtime topology over file-backed topics — the full analogue
 * of the reference's deployment (docker-compose.yml): generator → topics →
 * main job (shared join materialized once, fan-out to ctr_results +
 * engagement_results; T4) → anomaly job chained off the ctr topic (T5) →
 * anomaly_alerts, all checkpointed (T6). Events arrive in time-ordered
 * waves so watermarks advance batch-over-batch; far-future sentinel waves
 * flush the final windows. Every output is compared row-identical to the
 * batch pipelines.
 */
class StreamingJobsSpec extends SparkSpec {
  import spark.implicits._

  private def writeWave(dir: Path, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)
  }

  private def jsonLines(df: DataFrame): Seq[String] = df.toJSON.collect().toIndexedSeq

  test("two chained jobs over file topics reproduce the batch results") {
    withTempDir("graft-stream-jobs") { root =>
      val imprTopic = root.resolve("impressions")
      val clickTopic = root.resolve("clicks")
      val work = root.resolve("work").toString

      val ev = AdEventGenerator.generate(startMs = 3600000L, minutes = 8,
        impressionsPerMinutePerCampaign = 30, campaigns = 3, nullDeviceEvery = 5)
      val cutMs = 3600000L + 4 * 60000L
      // sentinels advance the watermark GRADUALLY (5-minute steps): across
      // the materialized-topic boundary a single huge watermark jump would
      // make the join's late-evicted unmatched rows arrive behind the
      // downstream watermark (see runMainJob's chainedWatermarkDelay doc) —
      // exactly what a real deployment's smoothly-advancing event time never
      // does. End of real data is 01:08; sentinels walk 01:10 → 01:40.
      val sentinelBase = 3600000L + 10 * 60000L

      def sentinelImpr(off: Long) =
        s"""{"impression_id":"imp-s-$off","user_id":"user-1","campaign_id":"camp-sentinel","ad_id":"ad-1","device_type":"sentinel","browser":"chrome","event_timestamp":${sentinelBase + off},"cost":0.25}"""
      def sentinelClick(off: Long) =
        s"""{"click_id":"clk-s-$off","impression_id":"imp-s-$off","user_id":"user-1","event_timestamp":${sentinelBase + off}}"""

      val sentinelWaves = (0 to 6).map { k =>
        (Seq(sentinelImpr(k * 5 * 60000L)), Seq(sentinelClick(k * 5 * 60000L)))
      }
      val waves: Seq[(Seq[String], Seq[String])] = Seq(
        (jsonLines(ev.impressions.filter(_.event_timestamp < cutMs).toDF()),
          jsonLines(ev.clicks.filter(_.event_timestamp < cutMs).toDF())),
        (jsonLines(ev.impressions.filter(_.event_timestamp >= cutMs).toDF()),
          jsonLines(ev.clicks.filter(_.event_timestamp >= cutMs).toDF()))) ++ sentinelWaves

      // main job must be running before the first wave lands so each wave is
      // its own micro-batch (watermark advances between waves)
      writeWave(imprTopic, "wave0.json", waves.head._1)
      writeWave(clickTopic, "wave0.json", waves.head._2)
      // chained delay ≥ join bound (10m) + source delay (2s) + sentinel step (5m)
      val mainQueries = StreamingJobs.runMainJob(
        spark, imprTopic.toString, clickTopic.toString, work,
        watermarkDelay = "2 seconds", chainedWatermarkDelay = "16 minutes")
      try {
        def stepAll(): Unit = mainQueries.foreach(_.processAllAvailable())
        stepAll()
        waves.tail.zipWithIndex.foreach { case ((im, cl), k) =>
          writeWave(imprTopic, s"wave${k + 1}.json", im)
          writeWave(clickTopic, s"wave${k + 1}.json", cl)
          stepAll()
        }
      } finally mainQueries.foreach(_.stop())

      // batch twins on the same real events
      val iBatch = EventTime.withEventTime(ev.impressions.toDF())
      val cBatch = EventTime.withEventTime(ev.clicks.toDF())
      val jBatch = AdPipelines.joined(iBatch, cBatch)

      val gotCtr = spark.read.schema(AdModel.ctrResultSchema)
        .json(s"$work/ctr_results")
        .filter($"campaign_id" =!= "camp-sentinel")
      val wantCtr = AdPipelines.ctrByCampaign(jBatch)
      assert(gotCtr.count() > 0, "ctr topic is empty")
      assert(gotCtr.collect().map(_.toSeq).toSet ==
        wantCtr.collect().map(_.toSeq).toSet, "ctr topic != batch ctr")

      val gotEng = spark.read.schema(AdModel.engagementResultSchema)
        .json(s"$work/engagement_results")
        .filter($"device_type" =!= "sentinel")
      val wantEng = AdPipelines.engagementByDevice(jBatch)
      assert(gotEng.collect().map(_.toSeq).toSet ==
        wantEng.collect().map(_.toSeq).toSet, "engagement topic != batch engagement")

      // chained anomaly job consumes the ctr topic it did not produce itself
      val anomalyQ = StreamingJobs.runAnomalyJob(spark, s"$work/ctr_results", work)
      try anomalyQ.processAllAvailable() finally anomalyQ.stop()

      val gotAlerts = spark.read.schema(AdModel.anomalyAlertSchema)
        .json(s"$work/anomaly_alerts")
        .filter($"campaign_id" =!= "camp-sentinel")
      val wantAlerts = AdPipelines.anomalyAlerts(wantCtr)
      assert(gotAlerts.collect().map(_.toSeq).toSet ==
        wantAlerts.collect().map(_.toSeq).toSet, "alerts topic != batch alerts")
    }
  }

  test("checkpoint recovery: restart mid-stream resumes exactly-once (T6)") {
    recoveryRoundTrip(provider = None)
  }

  test("checkpoint recovery under the RocksDB state store provider — the " +
    "reference's state backend (T6), exercised not just cited") {
    recoveryRoundTrip(provider = Some(StateBackend.RocksDb))
  }

  /** Main-job restart drill; `provider` is the state store provider the
    * job's queries start under (None = the session default). */
  private def recoveryRoundTrip(provider: Option[String]): Unit = {
    withTempDir("graft-stream-recovery") { root =>
      val imprTopic = root.resolve("impressions")
      val clickTopic = root.resolve("clicks")
      val work = root.resolve("work").toString

      val ev = AdEventGenerator.generate(startMs = 3600000L, minutes = 6,
        impressionsPerMinutePerCampaign = 20, campaigns = 2)
      val cutMs = 3600000L + 3 * 60000L
      val sentinelBase = 3600000L + 8 * 60000L
      def sentinelImpr(off: Long) =
        s"""{"impression_id":"imp-s-$off","user_id":"user-1","campaign_id":"camp-sentinel","ad_id":"ad-1","device_type":"sentinel","browser":"chrome","event_timestamp":${sentinelBase + off},"cost":0.25}"""
      def sentinelClick(off: Long) =
        s"""{"click_id":"clk-s-$off","impression_id":"imp-s-$off","user_id":"user-1","event_timestamp":${sentinelBase + off}}"""

      def launch() = StateBackend.withProvider(spark, provider) {
        StreamingJobs.runMainJob(
          spark, imprTopic.toString, clickTopic.toString, work,
          watermarkDelay = "2 seconds", chainedWatermarkDelay = "16 minutes")
      }

      // phase 1: first half of the events, then STOP all queries —
      // dedup/join/agg state at this point lives only in the checkpoints
      writeWave(imprTopic, "w0.json",
        jsonLines(ev.impressions.filter(_.event_timestamp < cutMs).toDF()))
      writeWave(clickTopic, "w0.json",
        jsonLines(ev.clicks.filter(_.event_timestamp < cutMs).toDF()))
      val phase1 = launch()
      try phase1.foreach(_.processAllAvailable()) finally phase1.foreach(_.stop())

      // phase 2: a fresh set of queries over the same checkpoints picks up
      // the offsets and operator state and continues
      writeWave(imprTopic, "w1.json",
        jsonLines(ev.impressions.filter(_.event_timestamp >= cutMs).toDF()))
      writeWave(clickTopic, "w1.json",
        jsonLines(ev.clicks.filter(_.event_timestamp >= cutMs).toDF()))
      val phase2 = launch()
      try {
        def stepAll(): Unit = phase2.foreach(_.processAllAvailable())
        stepAll()
        (0 to 6).foreach { k =>
          writeWave(imprTopic, s"s$k.json", Seq(sentinelImpr(k * 5 * 60000L)))
          writeWave(clickTopic, s"s$k.json", Seq(sentinelClick(k * 5 * 60000L)))
          stepAll()
        }
      } finally phase2.foreach(_.stop())

      val iBatch = EventTime.withEventTime(ev.impressions.toDF())
      val cBatch = EventTime.withEventTime(ev.clicks.toDF())
      val wantCtr = AdPipelines.ctrByCampaign(AdPipelines.joined(iBatch, cBatch))
      val gotCtr = spark.read.schema(AdModel.ctrResultSchema)
        .json(s"$work/ctr_results")
        .filter($"campaign_id" =!= "camp-sentinel")
      // exactly-once across the restart: no lost windows, no duplicates
      assert(gotCtr.collect().map(_.toSeq).toSet ==
        wantCtr.collect().map(_.toSeq).toSet, "post-recovery ctr != batch ctr")
      assert(gotCtr.count() == gotCtr.dropDuplicates().count())
    }
  }

  test("chained-topology double restart: BOTH jobs killed at staggered " +
    "offsets recover exactly-once ACROSS the topic boundary (r15)") {
    chainedDoubleRestart(provider = None)
  }

  test("chained-topology double restart under RocksDB — the composed " +
    "drill on the reference's state backend (r15)") {
    chainedDoubleRestart(provider = Some(StateBackend.RocksDb))
  }

  private def chainedDoubleRestart(provider: Option[String]): Unit = {
    // T6 recovery was proven per-job; this is the COMPOSED drill on the
    // reference's cross-job dataflow edge (P1's ctr sink feeding P2,
    // flink/flink_job.sql:53 ↔ flink/anomaly_job.sql:21): the anomaly
    // job dies first (while the main job keeps writing ctr rows it never
    // saw), then the main job dies too; both restart from their own
    // checkpoints, and the final alert set must equal the no-crash batch
    // run — offsets into the INTERMEDIATE topic are themselves
    // checkpointed state, so neither the rows written during P2's outage
    // nor the windows closed after P1's restart may be lost or doubled.
    withTempDir("graft-stream-chain-recovery") { root =>
      val imprTopic = root.resolve("impressions")
      val clickTopic = root.resolve("clicks")
      val work = root.resolve("work").toString

      val ev = AdEventGenerator.generate(startMs = 3600000L, minutes = 6,
        impressionsPerMinutePerCampaign = 20, campaigns = 2)
      val cutMs = 3600000L + 3 * 60000L
      val sentinelBase = 3600000L + 8 * 60000L
      def sentinelImpr(off: Long) =
        s"""{"impression_id":"imp-s-$off","user_id":"user-1","campaign_id":"camp-sentinel","ad_id":"ad-1","device_type":"sentinel","browser":"chrome","event_timestamp":${sentinelBase + off},"cost":0.25}"""
      def sentinelClick(off: Long) =
        s"""{"click_id":"clk-s-$off","impression_id":"imp-s-$off","user_id":"user-1","event_timestamp":${sentinelBase + off}}"""

      def launchMain() = StateBackend.withProvider(spark, provider) {
        StreamingJobs.runMainJob(
          spark, imprTopic.toString, clickTopic.toString, work,
          watermarkDelay = "2 seconds", chainedWatermarkDelay = "16 minutes")
      }
      def launchAnomaly() = StateBackend.withProvider(spark, provider) {
        StreamingJobs.runAnomalyJob(spark, s"$work/ctr_results", work)
      }

      // phase 1: both jobs live; first half of the stream flows end to end
      writeWave(imprTopic, "w0.json",
        jsonLines(ev.impressions.filter(_.event_timestamp < cutMs).toDF()))
      writeWave(clickTopic, "w0.json",
        jsonLines(ev.clicks.filter(_.event_timestamp < cutMs).toDF()))
      val main1 = launchMain()
      val anomaly1 = launchAnomaly()
      try {
        main1.foreach(_.processAllAvailable())
        anomaly1.processAllAvailable()
      } finally anomaly1.stop() // CRASH 1: the downstream job dies first

      // the upstream job keeps running: second half lands, ctr rows are
      // written that the dead anomaly job has never seen
      try {
        writeWave(imprTopic, "w1.json",
          jsonLines(ev.impressions.filter(_.event_timestamp >= cutMs).toDF()))
        writeWave(clickTopic, "w1.json",
          jsonLines(ev.clicks.filter(_.event_timestamp >= cutMs).toDF()))
        main1.foreach(_.processAllAvailable())
      } finally main1.foreach(_.stop()) // CRASH 2: upstream dies later

      // both restart from their checkpoints; sentinel waves drive the
      // remaining windows closed through the WHOLE chain
      val main2 = launchMain()
      val anomaly2 = launchAnomaly()
      try {
        def stepAll(): Unit = {
          main2.foreach(_.processAllAvailable())
          anomaly2.processAllAvailable()
        }
        stepAll()
        (0 to 6).foreach { k =>
          writeWave(imprTopic, s"s$k.json", Seq(sentinelImpr(k * 5 * 60000L)))
          writeWave(clickTopic, s"s$k.json", Seq(sentinelClick(k * 5 * 60000L)))
          stepAll()
        }
      } finally { main2.foreach(_.stop()); anomaly2.stop() }

      val iBatch = EventTime.withEventTime(ev.impressions.toDF())
      val cBatch = EventTime.withEventTime(ev.clicks.toDF())
      val wantCtr = AdPipelines.ctrByCampaign(
        AdPipelines.joined(iBatch, cBatch))
      val gotCtr = spark.read.schema(AdModel.ctrResultSchema)
        .json(s"$work/ctr_results")
        .filter($"campaign_id" =!= "camp-sentinel")
      assert(gotCtr.collect().map(_.toSeq).toSet ==
        wantCtr.collect().map(_.toSeq).toSet,
        "double-restart ctr != batch ctr")
      // the composed contract: the final alert set equals the no-crash
      // run's — exactly-once THROUGH the topic boundary, not just within
      // each job — with no duplicate alerts from either restart
      val gotAlerts = spark.read.schema(AdModel.anomalyAlertSchema)
        .json(s"$work/anomaly_alerts")
        .filter($"campaign_id" =!= "camp-sentinel")
      val wantAlerts = AdPipelines.anomalyAlerts(wantCtr)
      assert(gotAlerts.collect().map(_.toSeq).toSet ==
        wantAlerts.collect().map(_.toSeq).toSet,
        "double-restart alerts != no-crash batch alerts")
      assert(gotAlerts.count() == gotAlerts.dropDuplicates().count(),
        "duplicate alerts after the double restart")
    }
  }
}
