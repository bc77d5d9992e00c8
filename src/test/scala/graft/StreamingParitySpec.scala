package graft

import graft.fixtures.AdEventGenerator
import graft.ops.EventTime
import graft.pipelines.AdPipelines
import graft.streaming.{JsonStreams, StreamingPipelines}
import graft.schema.AdModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * Streaming-vs-batch golden parity (SURVEY §5, §7.4): the generator's
 * 4-phase scenario fed through the streaming pipeline (Kafka-shaped JSON →
 * decode → watermark → dedup-within-watermark → outer interval join →
 * two-phase windowed agg, append mode) must produce row-identical results
 * to the batch pipeline (plain join + literal COUNT(DISTINCT)) on the same
 * events. The oracle gate cannot see streaming queries; this test is the
 * correctness evidence for S4, J1/A1/A3 streaming, T1, T3, T7.
 *
 * Watermark mechanics: append-mode windows emit only once the watermark
 * passes window_end + the join's upper bound, and the watermark only
 * advances batch-over-batch — so the fixture feeds events in several
 * batches and ends with two far-future sentinel events whose sole job is
 * to flush every real window out; sentinel windows are filtered from the
 * comparison.
 */
class StreamingParitySpec extends SparkSpec {
  import spark.implicits._

  private val SentinelCampaign = "camp-sentinel"

  /** JSON-line (Kafka value) form of the fixture events. */
  private def jsonLines(df: DataFrame): Seq[String] = df.toJSON.collect().toIndexedSeq

  private def sentinelImpression(offsetMs: Long): String = {
    val ts = 86400000L * 100 + offsetMs
    s"""{"impression_id":"imp-sentinel-$offsetMs","user_id":"user-1","campaign_id":"$SentinelCampaign","ad_id":"ad-1","device_type":"mobile","browser":"chrome","event_timestamp":$ts,"cost":0.25}"""
  }

  private def sentinelClick(offsetMs: Long): String = {
    val ts = 86400000L * 100 + offsetMs
    s"""{"click_id":"clk-sentinel-$offsetMs","impression_id":"imp-sentinel-$offsetMs","user_id":"user-1","event_timestamp":$ts}"""
  }

  test("streaming ctr + engagement match the batch pipeline on the golden scenario") {
    // start off epoch 0: the initial watermark is 0, and an event whose
    // timestamp equals the watermark is dropped as late — a degenerate
    // artifact only reachable with events at the epoch itself
    val ev = AdEventGenerator.generate(startMs = 3600000L, minutes = 8,
      impressionsPerMinutePerCampaign = 40, campaigns = 3, nullDeviceEvery = 7)

    // batches split at an event-time cut (in-order arrival, as a Kafka
    // consumer would see it): a random split would put most of batch 2
    // behind batch 1's watermark and the engine would — correctly — drop
    // it all as late data
    val cutMs = 3600000L + 4 * 60000L
    val imprA = jsonLines(ev.impressions.filter(_.event_timestamp < cutMs).toDF())
    val imprB = jsonLines(ev.impressions.filter(_.event_timestamp >= cutMs).toDF())
    val clickA = jsonLines(ev.clicks.filter(_.event_timestamp < cutMs).toDF())
    val clickB = jsonLines(ev.clicks.filter(_.event_timestamp >= cutMs).toDF())

    // ONE source tagged by side ("i" impressions, "c" clicks), split by a
    // filter: each addData lands both halves of a batch atomically. With
    // two sources, a microbatch can take a batch's impressions without
    // its clicks, advance the watermark on them alone, and drop the
    // clicks that follow as late.
    val events = MemoryStream[(String, String)](spark)
    def side(tag: String) =
      events.toDF().filter(col("_1") === tag).select(col("_2").as("value"))
    def land(impr: Seq[String], clicks: Seq[String]): Unit =
      events.addData(impr.map("i" -> _) ++ clicks.map("c" -> _))

    val impressions = JsonStreams.decode(side("i"), AdModel.impressionSchema)
    val clicks = JsonStreams.decode(side("c"), AdModel.clickSchema)

    val joined = StreamingPipelines.joinedStream(
      impressions, clicks, watermarkDelay = "2 seconds")

    // batch A lands BEFORE the queries start, both sides in batch 0: a
    // watermark operator that has never seen data is absent from the
    // min-policy map, so both must register in the first microbatch for
    // the min policy to hold after.
    land(imprA, clickA)

    val ctrQ = StreamingPipelines.ctrByCampaign(joined)
      .writeStream.format("memory").queryName("parity_ctr")
      .outputMode("append").start()
    val engQ = StreamingPipelines.engagementByDevice(joined)
      .writeStream.format("memory").queryName("parity_eng")
      .outputMode("append").start()

    try {
      // two real batches (cross-batch join + dedup state), then two
      // sentinel batches to push the watermark past every real window
      def step(): Unit = { ctrQ.processAllAvailable(); engQ.processAllAvailable() }
      step() // batch A was added before start
      land(imprB, clickB); step()
      for (off <- Seq(0L, 3600000L, 7200000L)) {
        land(Seq(sentinelImpression(off)), Seq(sentinelClick(off))); step()
      }

      val iBatch = EventTime.withEventTime(ev.impressions.toDF())
      val cBatch = EventTime.withEventTime(ev.clicks.toDF())
      val jBatch = AdPipelines.joined(iBatch, cBatch)

      val gotCtr = spark.table("parity_ctr")
        .filter(col("campaign_id") =!= SentinelCampaign)
        .collect().map(_.toSeq).toSet
      val wantCtr = AdPipelines.ctrByCampaign(jBatch).collect().map(_.toSeq).toSet
      assert(gotCtr.nonEmpty, "streaming ctr emitted nothing — watermark never flushed")
      assert(gotCtr == wantCtr,
        s"ctr mismatch: only-streaming=${gotCtr -- wantCtr}, only-batch=${wantCtr -- gotCtr}")

      // sentinel rows have no campaign marker here — they are the only
      // far-future windows, so filter on time instead
      val gotEng = spark.table("parity_eng")
        .filter(col("window_start") < to_timestamp(lit("1970-01-02")))
        .collect().map(_.toSeq).toSet
      val wantEng = AdPipelines.engagementByDevice(jBatch).collect().map(_.toSeq).toSet
      assert(gotEng == wantEng,
        s"engagement mismatch: only-streaming=${gotEng -- wantEng}, only-batch=${wantEng -- gotEng}")
    } finally {
      ctrQ.stop(); engQ.stop()
    }
  }

  test("decode drops malformed JSON lines but keeps partial records (S4)") {
    val raw = Seq(
      """{"impression_id":"a","user_id":"u","campaign_id":"c1","ad_id":"ad","device_type":"mobile","browser":"chrome","event_timestamp":1000,"cost":0.1}""",
      """not json at all{{{""",
      """{"impression_id":"b","campaign_id":"c2"}""", // valid, missing fields
      """{"impression_id":"c","event_timestamp":"oops"}""", // wrong-typed field
      """{}""", // valid and empty → kept as all-NULL (Flink does too)
      null // Kafka tombstone → dropped
    ).toDF("value")
    val got = JsonStreams.decode(raw, AdModel.impressionSchema)
    assert(got.count() == 4)
    val b = got.filter(col("impression_id") === "b").collect().head
    assert(b.getAs[String]("campaign_id") == "c2" && b.isNullAt(b.fieldIndex("user_id")))
    // Flink's json.ignore-parse-errors nulls just the unconvertible field
    val c = got.filter(col("impression_id") === "c").collect().head
    assert(c.isNullAt(c.fieldIndex("event_timestamp")))
    assert(got.filter(col("impression_id").isNull).count() == 1) // the {} row
  }

  test("encode wraps every column into a single JSON value column (S7-S9)") {
    val df = Seq(("x", 1L)).toDF("id", "n")
    val v = JsonStreams.encode(df).collect().map(_.getString(0))
    assert(v.sameElements(Array("""{"id":"x","n":1}""")))
  }
}
