package graft

import graft.streaming.StreamThroughput

/**
 * Streaming throughput benchmark main — the streaming sibling of
 * [[Bench]]: runs [[graft.streaming.StreamThroughput]] steps for the
 * main ad job and the curation ingest job at stepped input rates and
 * prints ONE JSON line with the per-step results and the max sustained
 * events/s per job. The reference's only published operating point is
 * its EVENT_RATE=50 generator envelope (`docker-compose.yml:121`);
 * results are recorded as the streaming table in BASELINE.md.
 *
 * Knobs (env): SPARK_GRAFT_CPUS (default 32),
 * SPARK_GRAFT_STREAM_RATES / SPARK_GRAFT_INGEST_RATES (comma-separated
 * events-per-second steps), SPARK_GRAFT_FEED_MS (feed window per step).
 */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val cpus = GraftSession.cpus(32)
    val feedMs = sys.env.getOrElse("SPARK_GRAFT_FEED_MS", "20000").toLong
    def rates(env: String, dflt: String): Seq[Int] =
      sys.env.getOrElse(env, dflt).split(",").map(_.trim.toInt).toSeq
    val mainRates = rates("SPARK_GRAFT_STREAM_RATES", "5000,20000,80000")
    val ingestRates = rates("SPARK_GRAFT_INGEST_RATES", "2000,8000,32000")
    val annRates = rates("SPARK_GRAFT_ANN_RATES", "2000,8000,32000")
    // binary-codec twins of the decode-bound jobs (the r10 walls): same
    // topologies, BinaryTopics wire format — stepped higher because the
    // codec exists precisely to move those ceilings
    val ingestBinRates = rates("SPARK_GRAFT_INGEST_BIN_RATES", "8000,32000")
    val annBinRates = rates("SPARK_GRAFT_ANN_BIN_RATES", "8000,32000")
    // Streaming microbatches pay a per-partition state-commit floor on
    // every stateful operator each trigger; at these per-batch volumes 8
    // state partitions is the deployment-correct tuning (32 would spend
    // more time committing stores than aggregating). Batch Bench keeps
    // partitions = cpus; this is the streaming sibling's knob.
    val shuffle = sys.env.getOrElse("SPARK_GRAFT_STREAM_SHUFFLE", "8")
    val spark = GraftSession.builder(cpus)
      .config("spark.sql.shuffle.partitions", shuffle)
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

    val mainSteps = mainRates.map(r =>
      StreamThroughput.mainJobStep(spark, r, feedMs))
    val ingestSteps = ingestRates.map(r =>
      StreamThroughput.ingestJobStep(spark, r, feedMs))
    val annSteps = annRates.map(r =>
      StreamThroughput.annJobStep(spark, r, feedMs))
    val ingestBinSteps = ingestBinRates.map(r =>
      StreamThroughput.ingestJobStep(spark, r, feedMs, codec = "binary"))
    val annBinSteps = annBinRates.map(r =>
      StreamThroughput.annJobStep(spark, r, feedMs, codec = "binary"))
    // SPARK_GRAFT_ANN_LAYOUT_RATES: the ANN-layout job (topic →
    // frozen-cell assignment → live cell segments) — off by default,
    // stepped when measuring the disk-index landing path
    val annLayoutSteps = sys.env.get("SPARK_GRAFT_ANN_LAYOUT_RATES").toSeq
      .flatMap(_.split(",").map(_.trim.toInt).toSeq)
      .flatMap(r => Seq(
        StreamThroughput.annLayoutStep(spark, r, feedMs),
        StreamThroughput.annLayoutStep(spark, r, feedMs, codec = "binary")))
    // SPARK_GRAFT_TRIGGER (e.g. "2 seconds"): re-run the curation steps
    // under a processing-time trigger — fewer, larger microbatches
    // amortize the per-batch fixed cost (listing + planning + sink
    // commit) that caps the stateless ANN job at high rates
    val trigSteps = sys.env.get("SPARK_GRAFT_TRIGGER").toSeq.flatMap { t =>
      val ti = Some(t)
      annRates.map(r => StreamThroughput.annJobStep(spark, r, feedMs,
        triggerInterval = ti)) ++
      annBinRates.map(r => StreamThroughput.annJobStep(spark, r, feedMs,
        codec = "binary", triggerInterval = ti)) ++
      ingestBinRates.map(r => StreamThroughput.ingestJobStep(spark, r,
        feedMs, codec = "binary", triggerInterval = ti))
    }

    // SPARK_GRAFT_SKEW_SHARES (e.g. "0.2,0.5,0.9"): hot-key ladder —
    // the r14 batch skew rung's STREAMING sibling: the deployed main job
    // with one campaign receiving that share of all rows, measured for
    // throughput (+ state rows) and landed→visible latency against the
    // uniform rows above. Off by default.
    val skewShares = sys.env.get("SPARK_GRAFT_SKEW_SHARES").toSeq
      .flatMap(_.split(",").map(_.trim.toDouble).toSeq)
    val skewRate = sys.env.getOrElse("SPARK_GRAFT_SKEW_RATE", "20000").toInt
    val skewSteps = skewShares.map(s =>
      StreamThroughput.mainJobStep(spark, skewRate, feedMs, skewShare = s))
    val skewLat = skewShares.map(s =>
      StreamThroughput.mainLatencyStep(spark, skewRate, feedMs,
        skewShare = s))
    // SPARK_GRAFT_ATTR_SKEW_SHARES: hot-USER ladder on the attribution
    // job — the one topology whose state keys on a skewable key
    // (user_id); a uniform-rate baseline runs first. Off by default.
    val attrShares = sys.env.get("SPARK_GRAFT_ATTR_SKEW_SHARES").toSeq
      .flatMap(_.split(",").map(_.trim.toDouble).toSeq)
    val attrRate = sys.env.getOrElse("SPARK_GRAFT_ATTR_RATE", "8000").toInt
    val attrSteps =
      (if (attrShares.nonEmpty) Seq(0.0) ++ attrShares else Nil).flatMap(s =>
        Seq(
          StreamThroughput.attributionJobStep(spark, attrRate, feedMs,
            skewShare = s),
          // the hot-key remedy measured beside the default: progressive
          // prefix-finalize bounds per-key state by the watermark
          // horizon instead of the key's lifetime
          StreamThroughput.attributionJobStep(spark, attrRate, feedMs,
            skewShare = s, progressive = true)))

    // r14: end-to-end latency receipts (landed→sink-visible percentiles,
    // BASELINE.md's SLA table) at each job's sustained operating point —
    // rates overridable via SPARK_GRAFT_LAT_{MAIN,INGEST,ANN}; set a
    // rate to 0 to skip that job's latency step
    def latRate(env: String, dflt: Int): Int =
      sys.env.getOrElse(env, dflt.toString).trim.toInt
    // SPARK_GRAFT_LAT_TRIGGER (e.g. "2 seconds"): additionally measure
    // the curation latencies under a processing-time trigger — the
    // r11 throughput knob's LATENCY price, one table in BASELINE.md
    val latTrig = sys.env.get("SPARK_GRAFT_LAT_TRIGGER")
    val latSteps = (Seq(
      latRate("SPARK_GRAFT_LAT_MAIN", 20000) ->
        ((r: Int) => StreamThroughput.mainLatencyStep(spark, r, feedMs)),
      latRate("SPARK_GRAFT_LAT_INGEST", 8000) ->
        ((r: Int) => StreamThroughput.ingestLatencyStep(spark, r, feedMs)),
      latRate("SPARK_GRAFT_LAT_ANN", 8000) ->
        ((r: Int) => StreamThroughput.annLatencyStep(spark, r, feedMs))) ++
      latTrig.toSeq.flatMap { t => Seq(
        latRate("SPARK_GRAFT_LAT_INGEST", 8000) ->
          ((r: Int) => StreamThroughput.ingestLatencyStep(spark, r, feedMs,
            triggerInterval = Some(t))),
        latRate("SPARK_GRAFT_LAT_ANN", 8000) ->
          ((r: Int) => StreamThroughput.annLatencyStep(spark, r, feedMs,
            triggerInterval = Some(t)))) })
      .collect { case (r, step) if r > 0 => step(r) }

    def maxSustained(steps: Seq[StreamThroughput.StepResult]): Long =
      steps.filter(_.sustained).map(s => math.round(s.sustainedRate))
        .foldLeft(0L)(math.max)
    val allSteps = (mainSteps ++ ingestSteps ++ annSteps ++
      ingestBinSteps ++ annBinSteps ++ annLayoutSteps ++ trigSteps ++
      skewSteps ++ attrSteps)
      .map(_.json).mkString(",")
    println(
      s"""{"metric":"stream_max_sustained_events_per_sec",""" +
      s""""value":${maxSustained(mainSteps)},"unit":"events_per_sec",""" +
      s""""ingest_value":${maxSustained(ingestSteps)},""" +
      s""""ann_value":${maxSustained(annSteps)},""" +
      s""""ingest_binary_value":${maxSustained(ingestBinSteps)},""" +
      s""""ann_binary_value":${maxSustained(annBinSteps)},""" +
      s""""feed_ms":$feedMs,"cpus":$cpus,""" +
      s""""reference_envelope_events_per_sec":50,""" +
      s""""steps":[$allSteps],""" +
      s""""latency":[${(latSteps ++ skewLat).map(_.json).mkString(",")}]}""")
    spark.stop()
  }
}
