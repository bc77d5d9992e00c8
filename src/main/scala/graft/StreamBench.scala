package graft

import graft.streaming.StreamThroughput

/**
 * Streaming throughput benchmark main — the streaming sibling of
 * [[Bench]]: finds each job's ceiling with [[StreamThroughput.climb]]
 * (2,000 events/s doubled per step until the job falls behind, the
 * feeder runs short or 8 steps are done) and prints ONE JSON line with
 * every step (with its landed→sink-visible latency, measured on the same
 * run), each job's highest sustained events/s and the `bound` that
 * stopped its ladder (`job`, `feed` — the value is a lower bound — or
 * `ladder`). The `latency` array repeats, per job, the latency of the
 * step at half of its top sustained rate
 * ([[StreamThroughput.Ceiling.latencyStep]]).
 * The reference's only published operating point is its EVENT_RATE=50
 * generator envelope (`docker-compose.yml:121`); results are recorded as
 * the streaming table in BASELINE.md.
 *
 * Knob (env): SPARK_GRAFT_CPUS (default 32).
 */
object StreamBench {
  /** Feed window per step. */
  val FeedMs = 20000L
  // Streaming microbatches pay a per-partition state-commit floor on
  // every stateful operator each trigger; at these per-batch volumes 8
  // state partitions is the deployment-correct tuning (32 would spend
  // more time committing stores than aggregating). Batch Bench keeps
  // partitions = cpus.
  val ShufflePartitions = 8

  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus(32)
    // FAIR: the feeders run in their own pool (StreamThroughput.feedTopic),
    // so a job near its ceiling does not starve the load it is offered
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", ShufflePartitions)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // one throwaway warm step per job: first-query codegen/planning is a
    // per-process constant the steady-state steps shouldn't be billed for
    StreamThroughput.mainJobStep(spark, rate = 1000, feedMs = 4000L)
    StreamThroughput.ingestJobStep(spark, rate = 500, feedMs = 4000L)
    StreamThroughput.annJobStep(spark, rate = 500, feedMs = 4000L)
    StreamThroughput.ingestJobStep(spark, rate = 500, feedMs = 4000L,
      codec = "binary")
    StreamThroughput.annJobStep(spark, rate = 500, feedMs = 4000L,
      codec = "binary")

    val main = StreamThroughput.climb(
      StreamThroughput.mainJobStep(spark, _, FeedMs))
    val ingest = StreamThroughput.climb(
      StreamThroughput.ingestJobStep(spark, _, FeedMs))
    val ann = StreamThroughput.climb(
      StreamThroughput.annJobStep(spark, _, FeedMs))
    // binary-codec twins of the decode-bound jobs (the r10 walls): same
    // topologies, BinaryTopics wire format
    val ingestBin = StreamThroughput.climb(
      StreamThroughput.ingestJobStep(spark, _, FeedMs, codec = "binary"))
    val annBin = StreamThroughput.climb(
      StreamThroughput.annJobStep(spark, _, FeedMs, codec = "binary"))

    val ceilings = Seq("" -> main, "ingest_" -> ingest, "ann_" -> ann,
      "ingest_binary_" -> ingestBin, "ann_binary_" -> annBin)
    val perJob = ceilings.map { case (prefix, c) =>
      s""""${prefix}value":${c.value},"${prefix}bound":"${c.bound}","""
    }.mkString
    val allSteps = ceilings.flatMap(_._2.steps).map(_.json).mkString(",")
    // latency as measured by each job's step at half its top sustained
    // rate; a job that sustained no step gets none
    val latency = ceilings.flatMap(_._2.latencyStep)
      .map(_.latencyJson).mkString(",")
    println(
      s"""{"metric":"stream_max_sustained_events_per_sec",""" +
      s""""unit":"events_per_sec",$perJob""" +
      s""""feed_ms":$FeedMs,"cpus":$cpus,""" +
      s""""reference_envelope_events_per_sec":50,""" +
      s""""steps":[$allSteps],""" +
      s""""latency":[$latency]}""")
    spark.stop()
  }
}
