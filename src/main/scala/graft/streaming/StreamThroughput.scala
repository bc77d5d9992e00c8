package graft.streaming

import graft.fixtures.StreamingEventGenerator
import graft.schema.AdModel
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}

/**
 * Rate-driven streaming throughput harness — the measurement the
 * reference publishes exactly one operating point for (its generator's
 * EVENT_RATE=50 envelope, reference `docker-compose.yml:121`). Each step
 * runs a REAL producer/consumer topology at a target input rate:
 *
 *  1. a feeder query — [[StreamingEventGenerator]]'s `rate` source (or
 *     [[docStream]] / [[embStream]] for the curation side) encoded under
 *     the step's wire codec and written to the same file-backed topics
 *     the jobs deploy against — produces at `rate` rows per wall-second
 *     for `feedMs`;
 *  2. the job under test ([[StreamingJobs.runMainJob]] /
 *     [[StreamingCurationJobs.runIngestJob]] /
 *     [[StreamingCurationJobs.runAnnIngestJob]]) consumes CONCURRENTLY,
 *     exactly as deployed (same decode, same checkpoints, same sinks);
 *  3. when the feeder stops, the consumer drains its backlog; the step's
 *     verdict is how much backlog accumulated.
 *
 * A step is SUSTAINED when the post-feed drain takes at most
 * [[drainBudgetMs]] — i.e. the job kept pace with the offered rate
 * instead of queueing it. `ratePerSec` reports end-to-end events/s over
 * the whole feed+drain wall window (input-row throughput of the job as
 * deployed, file-sink I/O included); `p95BatchMs` the 95th-percentile
 * microbatch duration across the job's queries.
 *
 * After the verdict, the same run yields the step's end-to-end LATENCY:
 * how long after a record lands on the input topic its effect is
 * visible at the sink. Both clocks are read post-hoc from the
 * filesystem — a file-backed topic's record becomes consumable exactly
 * when its file commits (input file mtime), and visible when its sink
 * file commits (output file mtime) — and joined back to the records by
 * key, with zero instrumentation inside the jobs. Latency therefore
 * includes everything a user waits for: source listing cadence,
 * microbatch scheduling, state commits, chained-topology hops, and (for
 * windowed aggregates) the watermark close itself.
 *
 * A job's ceiling is found by [[climb]]: steps at doubling rates until
 * one falls behind (the job is the limit), its feeder lands under 90% of
 * the offered rows (the feeder is the limit) or the ladder tops out.
 *
 * Event time is decoupled from wall time (`simMsPerRow`) so watermarks,
 * window closes, and join-state GC run at a realistic event-time pace
 * regardless of the wall rate — state stays bounded by the same horizon
 * arithmetic as production, which is what makes a 20-second step
 * representative of a day-long run.
 */
object StreamThroughput {

  /** Landed→sink-visible latency of one step: `nRows` sink records (or
    * windows, for the aggregating main job) matched to their input, and
    * the percentiles of their latency in ms. */
  final case class LatencyResult(nRows: Long, p50Ms: Long, p95Ms: Long,
                                 maxMs: Long) {
    def fields: String =
      s""""rows":$nRows,"p50_ms":$p50Ms,"p95_ms":$p95Ms,"max_ms":$maxMs"""
  }

  object LatencyResult {
    val Empty: LatencyResult = LatencyResult(0L, 0L, 0L, 0L)
  }

  /** One rate step's measurements. `eventsIn` counts rows actually
    * landed on the input topics (impressions + clicks, or docs); `fed`
    * counts the rows the rate-driven feeder landed on its own topic
    * (impressions, docs, embeddings), the rows `rate` offers.
    * `ratePerSec` is end-to-end events/s over feed+drain (a lower bound
    * on capacity whether or not the step kept pace); [[sustainedRate]]
    * is the throughput the step demonstrates: the offered load when the
    * job kept pace, the measured drain-inclusive rate when it queued.
    * `latency` is measured on the same run, after the verdict. */
  final case class StepResult(job: String, rate: Int, eventsIn: Long,
                              feedMs: Long, drainMs: Long,
                              ratePerSec: Double, p95BatchMs: Long,
                              batches: Int, sustained: Boolean,
                              fed: Long,
                              stateRows: Long = -1L,
                              stateBytes: Long = -1L,
                              latency: LatencyResult = LatencyResult.Empty) {
    def sustainedRate: Double =
      if (sustained) eventsIn * 1000.0 / math.max(feedMs, 1L) else ratePerSec
    /** Landed share of the rows offered over the feed window: below 1
      * when the feeder itself could not produce `rate` rows/s. */
    def feedShare: Double = fed * 1000.0 / math.max(rate.toLong * feedMs, 1L)
    def json: String =
      s"""{"job":"$job","rate":$rate,"events_in":$eventsIn,"fed":$fed,""" +
        s""""feed_ms":$feedMs,"drain_ms":$drainMs,""" +
        s""""events_per_sec":${math.round(ratePerSec)},""" +
        s""""sustained_events_per_sec":${math.round(sustainedRate)},""" +
        s""""p95_batch_ms":$p95BatchMs,"batches":$batches,""" +
        s""""state_rows":$stateRows,"state_bytes":$stateBytes,""" +
        s""""sustained":$sustained,${latency.fields}}"""
    /** The step's latency alone, as StreamBench's `latency` entries. */
    def latencyJson: String =
      s"""{"job":"$job","rate":$rate,${latency.fields}}"""
  }

  /** A job's measured ceiling: the ladder's steps and why it stopped —
    * `"job"` (a step fell behind), `"feed"` (the feeder landed too little
    * of the offered rate, so `value` is a lower bound) or `"ladder"` (the
    * top step still kept pace). `value` is the highest sustained rate. */
  final case class Ceiling(steps: Seq[StepResult], bound: String) {
    def value: Long = steps.filter(_.sustained)
      .map(s => math.round(s.sustainedRate)).foldLeft(0L)(math.max)

    /** The step the job's latency is reported at: the one at half the
      * top sustained step's rate (the ladder ran it already), or the top
      * sustained step itself when it has no half-rate step (only the
      * first step was sustained). None when no step was sustained. */
    def latencyStep: Option[StepResult] =
      steps.filter(_.sustained).maxByOption(_.rate).map(top =>
        steps.find(s => s.sustained && s.rate * 2 == top.rate).getOrElse(top))
  }

  /** The ladder: 2,000 events/s, doubled per step, at most 8 steps
    * (2k → 256k). A step whose feeder landed under 90% of its offer
    * measured the feeder, not the job. */
  private val LadderStartRate = 2000
  private val LadderSteps = 8
  private val MinFeedShare = 0.9

  /** Why `step` ends a ladder, if it does: falling behind names the job
    * even when the feeder also ran short (the job could not keep pace
    * with less than it was offered). */
  private def stopReason(step: StepResult): Option[String] =
    if (!step.sustained) Some("job")
    else if (step.feedShare < MinFeedShare) Some("feed")
    else None

  /** Climbs the ladder with `step` (one measured step per rate) until a
    * step stops it or the steps run out — the highest input rate the job
    * sustains, found by measurement instead of a hand-set rate list. */
  def climb(step: Int => StepResult): Ceiling = {
    @scala.annotation.tailrec
    def go(rate: Int, done: Vector[StepResult]): Ceiling =
      if (done.size == LadderSteps) Ceiling(done, "ladder")
      else {
        val s = step(rate)
        stopReason(s) match {
          case Some(bound) => Ceiling(done :+ s, bound)
          case None => go(rate * 2, done :+ s)
        }
      }
    go(LadderStartRate, Vector.empty)
  }

  /** Backlog-drain budget for a step to count as sustained: a quarter of
    * the feed window plus one scheduling grace, plus the topology's
    * FIXED latency tail (`tailAllowanceMs`) — a kept-pace consumer
    * drains in about one microbatch per query in the chain, a
    * falling-behind one queues a backlog proportional to the feed
    * duration. The tail allowance exists because a chained topology's
    * drain contains several serialized in-flight microbatches however
    * low the rate is (measured rate-INDEPENDENT across a 13× rate span
    * on the main job); it must NOT scale with observed batch duration,
    * or an overloaded run would inflate its own budget. */
  def drainBudgetMs(feedMs: Long, tailAllowanceMs: Long): Long =
    feedMs / 4 + 3000L + tailAllowanceMs

  private def p95(xs: Seq[Long]): Long =
    if (xs.isEmpty) 0L
    else xs.sorted.apply(math.min(xs.size - 1, (xs.size * 95) / 100))

  /** Runs `body` in a fresh temp dir and deletes the dir afterwards: a
    * step's topics, checkpoints and sinks hold every row it fed, which
    * reaches gigabytes at the top of a ladder. */
  private def inTempDir[A](prefix: String)(body: Path => A): A = {
    val root = Files.createTempDirectory(prefix)
    try body(root)
    finally org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  /** Blocks until the feeder's first file commit so the consumer's
    * source directory exists (the file source lists it at start). */
  private def awaitTopic(dir: Path, timeoutMs: Long = 30000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!Files.isDirectory(dir.resolve("_spark_metadata")) &&
           System.nanoTime() < deadline)
      Thread.sleep(50L)
    require(Files.isDirectory(dir.resolve("_spark_metadata")),
      s"feeder produced no commit into $dir within ${timeoutMs}ms")
  }

  /** Stops each feeder between its microbatches: `stop()` abandons a
    * batch in flight together with its rows, so the batch a feeder is
    * running when the feed window closes commits first (waiting at most
    * `maxWaitMs`), and each feeder stops as soon as its own batch has —
    * not after the others'. A feeder that keeps pace lands every whole
    * second it was offered; a slow one still lands only what its batches
    * covered. */
  private def stopBetweenBatches(feeders: Seq[StreamingQuery],
                                 maxWaitMs: Long): Unit = {
    val deadline = System.nanoTime() + maxWaitMs * 1000000L
    var running = feeders.map(f => f -> f.lastProgress)
    while (running.nonEmpty) {
      val (done, busy) = running.partition { case (f, before) =>
        !f.isActive || !f.status.isTriggerActive ||
          (f.lastProgress ne before) || System.nanoTime() >= deadline
      }
      done.foreach(_._1.stop())
      running = busy
      if (running.nonEmpty) Thread.sleep(5L)
    }
  }

  /** Synthetic curation-ingest document stream off the `rate` source, in
    * [[StreamingCurationJobs.docSchema]] shape: ~40-word texts drawn
    * from a small vocabulary by per-(row, position) hash over the FULL
    * row index, with a stopword every 5th token — so every document is
    * unique and most clear the deployed quality gate, exercising
    * shingling, fingerprinting, dedup state and the curated sink's write
    * path. [[ingestJobStep]] requires a majority of the fed docs to reach
    * the sink, so a gate or feed change that drops most of them fails
    * the step instead of measuring an empty sink. Event time advances
    * `simMsPerRow` ms per row from `startMs`, independent of wall pace. */
  def docStream(spark: SparkSession, rowsPerSecond: Int,
                startMs: Long = 0L, simMsPerRow: Long = 20L,
                vocab: Int = 64, wordsPerDoc: Int = 40): DataFrame = {
    val words = array((0 until vocab).map(i => lit(s"w$i")): _*)
    val stops = array(lit("the"), lit("of"), lit("and"), lit("in"))
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(col("value").as("idx"))
      .select(
        col("idx").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(wordsPerDoc)), j =>
          when(j % 5 === 0, element_at(stops,
            (pmod(xxhash64(col("idx"), j, lit(3)), lit(4)) + 1).cast("int")))
            .otherwise(element_at(words,
              (pmod(xxhash64(col("idx"), j), lit(vocab)) + 1).cast("int")))))
          .as("text"),
        lit("en").as("lang"),
        concat(lit("src-"), pmod(xxhash64(col("idx"), lit(7)), lit(4))).as("source"),
        timestamp_millis(lit(startMs) + col("idx") * simMsPerRow).as("ingest_time"))
  }

  /** Small static benchmark set for the ingest job's decontamination
    * stage — same vocabulary family as [[docStream]] so the shingle-set
    * probe sees realistic (mostly-miss) traffic. */
  def benchDocs(spark: SparkSession, n: Int = 32): DataFrame = {
    import spark.implicits._
    (0 until n).map(i =>
        (i.toLong, (0 until 12).map(j => s"bench${(i * 31 + j) % 97}").mkString(" ")))
      .toDF("doc_id", "text")
  }

  /** A file-backed topic: its records carry `schema` under the wire
    * `codec` ([[JsonStreams]] text lines or [[BinaryTopics]] parquet). */
  private final case class Topic(dir: Path, schema: StructType,
                                 codec: String = "json")

  /** A topic's records, decoded under its codec by the jobs' own decode
    * — the one reader a step counts its input with and keys its latency
    * from. */
  private def decoded(spark: SparkSession, t: Topic): DataFrame =
    if (t.codec == "binary") BinaryTopics.decode(
      spark.read.schema(BinaryTopics.valueSchema).parquet(t.dir.toString),
      t.schema)
    else JsonStreams.decode(spark.read.text(t.dir.toString), t.schema)

  /** (path, mtime) of a dir's data files — the post-hoc landing clock.
    * Driver-side walk, bounded by the step's own file count. */
  private def mtimeFrame(spark: SparkSession, dir: Path): DataFrame = {
    import scala.jdk.CollectionConverters._
    // Files.walk must be CLOSED (it holds open DirectoryStreams)
    val walk = Files.walk(dir)
    val rows =
      try walk.iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot(_.toString.contains("_spark_metadata"))
        .filterNot { p =>
          val n = p.getFileName.toString
          n.startsWith(".") || n.startsWith("_")
        }
        .map(p => (p.toAbsolutePath.toString,
          Files.getLastModifiedTime(p).toMillis))
        .toSeq
      finally walk.close()
    spark.createDataFrame(rows).toDF("__path", "__mtime")
  }

  /** [[decoded]] records, each with its file's commit time (ms) as `__t`. */
  private def landed(spark: SparkSession, t: Topic): DataFrame =
    decoded(spark, t)
      .withColumn("__path",
        regexp_replace(input_file_name(), "^file:/+", "/"))
      .join(broadcast(mtimeFrame(spark, t.dir)), Seq("__path"))
      .withColumnRenamed("__mtime", "__t")
      .drop("__path")

  /** Where a step's latency clocks are read: the job's `sink` topic,
    * whose records are identified by the `keys` columns, and `inKeys`,
    * the same keys derived from a landed input record. */
  private final case class Probe(sink: Topic, keys: Seq[String],
                                 inKeys: Seq[Column])

  private object Probe {
    /** Input and sink records share an `id` column. */
    def byId(sink: Topic, id: String): Probe = Probe(sink, Seq(id), Seq(col(id)))
  }

  /** Landed→sink-visible latency per sink key: its first sink commit
    * minus its input's last landing (a record's own landing; for a
    * window, its last contributing record's). A sink holding keys of
    * which none matches an input key means the probe's keys drifted from
    * the job's output, and fails loudly instead of reporting rows=0. */
  private def latencyOf(spark: SparkSession, feed: Topic, p: Probe)
      : LatencyResult = {
    val in = landed(spark, feed).groupBy(p.inKeys: _*)
      .agg(max(col("__t")).as("__in"))
    val out = landed(spark, p.sink).groupBy(p.keys.map(col): _*)
      .agg(min(col("__t")).as("__out"))
    val lat = col("__out") - col("__in")
    val r = out.join(in, p.keys, "left")
      .agg(count(lit(1)), count(lat), percentile(lat, lit(0.5)),
        percentile(lat, lit(0.95)), max(lat))
      .collect()(0)
    require(r.getLong(0) == 0L || r.getLong(1) > 0L,
      s"${r.getLong(0)} sink keys in ${p.sink.dir}, none matching an input " +
        s"key on ${p.keys.mkString(", ")} - the probe no longer matches " +
        "the job's output")
    if (r.getLong(1) == 0L) LatencyResult.Empty
    else LatencyResult(r.getLong(1), math.round(r.getDouble(2)),
      math.round(r.getDouble(3)), r.getLong(4))
  }

  private def runStep(job: String, rate: Int, feedMs: Long,
                      tailAllowanceMs: Long,
                      feeders: Seq[StreamingQuery],
                      topics: Seq[Topic],
                      startConsumer: () => Seq[StreamingQuery],
                      probe: Probe,
                      spark: SparkSession): StepResult = {
    topics.foreach(t => awaitTopic(t.dir))
    // Peak accumulation MUST outlive the progress ring buffer:
    // recentProgress retains only the last
    // spark.sql.streaming.numRecentProgressUpdates (~100) entries, so a
    // long feed with many microbatches can evict the peak batch and
    // silently under-report the state axis (r15 advice). A listener sees
    // EVERY progress event; its bus is async, so the final reads below
    // still merge in recentProgress (synchronous, covers the tail the
    // listener may not have drained yet) — max of both per query is
    // complete.
    val rowPeaks = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val bytePeaks = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val ops = Option(e.progress.stateOperators).toSeq.flatten
        if (ops.nonEmpty) {
          val mergeMax = (m: java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long], v: Long) =>
            m.merge(e.progress.id, java.lang.Long.valueOf(v),
              (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(math.max(a, b)))
          mergeMax(rowPeaks, ops.map(_.numRowsTotal).sum)
          mergeMax(bytePeaks, ops.map(_.memoryUsedBytes).sum)
        }
      }
    }
    spark.streams.addListener(listener)
    val consumers = startConsumer()
    val step = try {
      val feedStart = System.nanoTime()
      Thread.sleep(feedMs)
      // the wait for an in-flight feeder batch stays inside the feed wall
      stopBetweenBatches(feeders, feedMs)
      val feedEnd = System.nanoTime()
      // chained queries: drain in topology order, twice, so downstream
      // consumes what upstream wrote during the first drain pass
      consumers.foreach(_.processAllAvailable())
      consumers.foreach(_.processAllAvailable())
      val drainEnd = System.nanoTime()
      val landedRows = topics.map(decoded(spark, _).count())
      val eventsIn = landedRows.sum
      val progress = consumers.flatMap(_.recentProgress.toSeq)
      val batchMs = progress
        .flatMap(p => Option(p.durationMs.get("triggerExecution")).map(_.toLong))
      // topology-wide state rows: each StreamingQueryProgress covers ONE
      // query of the chain, so take every QUERY's own peak (max over its
      // batches of its state stores summed) and SUM across the queries —
      // a max over per-batch readings would report only the largest
      // single store and silently miss skew-driven growth in the smaller
      // ones (r15 review). Peaks need not be simultaneous, so this is a
      // slight upper estimate of any instant's total. -1 = no stateful
      // operator reported. The hot-key ladder's state axis: skew
      // concentrates UPDATES on few keys, so total state stays
      // key-bounded while per-partition load skews.
      // numRowsTotal counts KEYS (one state row per key — a
      // flatMapGroupsWithState key's whole buffer is ONE value), so the
      // hot-key buffer mass only shows in memoryUsedBytes; report both.
      def peakSum(f: org.apache.spark.sql.streaming.StateOperatorProgress
          => Long,
          peaks: java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]): Long = {
        val perQuery = consumers.map { q =>
          val recent = q.recentProgress.toSeq
            .map(p => Option(p.stateOperators).toSeq.flatten.map(f).sum)
            .foldLeft(-1L)(math.max)
          val listened = Option(peaks.get(q.id)).map(_.longValue).getOrElse(-1L)
          math.max(recent, listened)
        }
        if (perQuery.forall(_ < 0)) -1L else perQuery.filter(_ >= 0).sum
      }
      val stateRows = peakSum(_.numRowsTotal, rowPeaks)
      val stateBytes = peakSum(_.memoryUsedBytes, bytePeaks)
      val feedWallMs = (feedEnd - feedStart) / 1000000L
      val drainMs = (drainEnd - feedEnd) / 1000000L
      StepResult(job, rate, eventsIn, feedWallMs, drainMs,
        ratePerSec = eventsIn * 1000.0 / math.max(feedWallMs + drainMs, 1L),
        p95BatchMs = p95(batchMs), batches = batchMs.size,
        sustained = drainMs <= drainBudgetMs(feedMs, tailAllowanceMs),
        fed = landedRows.head, stateRows = stateRows, stateBytes = stateBytes)
    } finally {
      feeders.foreach(f => if (f.isActive) f.stop())
      consumers.foreach(_.stop())
      spark.streams.removeListener(listener)
    }
    // the verdict is taken; the same run's files now yield its latency
    step.copy(latency = latencyOf(spark, topics.head, probe))
  }

  /** One main-job step: generator → impressions/clicks topics →
    * [[StreamingJobs.runMainJob]] (join + two windowed aggregations over
    * three chained queries), measured as deployed. Its latency is
    * per WINDOW: a ctr row's clock starts when its LAST contributing
    * impression lands on the topic (clicks land in the same feed window;
    * the impression clock is the window's completion point) and stops
    * when the ctr row's sink file commits — so it includes the interval
    * join, the materialized-topic hop and the chained watermark advance
    * that closes the window. Only windows the watermark closed during
    * the run emit (the last ~chainedWatermarkDelay of event time never
    * closes — append-mode semantics, not measurement loss). */
  def mainJobStep(spark: SparkSession, rate: Int, feedMs: Long = 20000L,
                  simMsPerRow: Long = 20L,
                  stateStoreProvider: Option[String] = None,
                  skewShare: Double = 0.0): StepResult =
    inTempDir("graft-sthr-main") { root =>
      val impr = Topic(root.resolve("impressions"), AdModel.impressionSchema)
      val clk = Topic(root.resolve("clicks"), AdModel.clickSchema)
      val work = root.resolve("work")
      val (iStream, cStream) = StreamingEventGenerator.events(spark, rate,
        startMs = 0L, simMsPerRow = simMsPerRow, skewShare = skewShare)
      // coalesce: the rate source defaults to one partition per core; at
      // these volumes 32 files per topic per microbatch is pure listing
      // overhead for the consumer
      val f1 = feedTopic(iStream, impr, root.resolve("_ck/impr"))
      val f2 = feedTopic(cStream, clk, root.resolve("_ck/clk"))
      // Windows are re-derived with Spark's OWN window() over the job's
      // OWN width constant, so a width/alignment change in runMainJob
      // moves this side too (a mismatch fails latencyOf loudly).
      val probe = Probe(
        Topic(work.resolve("ctr_results"), AdModel.ctrResultSchema),
        Seq("window_start", "campaign_id"),
        Seq(window(timestamp_millis(col("event_timestamp")),
            StreamingJobs.DefaultWindowLength).getField("start")
            .as("window_start"),
          col("campaign_id")))
      // 12s tail: three chained queries drained twice in topology order,
      // each with a multi-second state-commit batch floor — measured
      // rate-independent (no backlog component) across 5k..80k ev/s
      runStep(if (skewShare > 0) s"main-skew$skewShare" else "main",
        rate, feedMs, tailAllowanceMs = 12000L,
        Seq(f1, f2), Seq(impr, clk),
        () => StreamingJobs.runMainJob(spark, impr.dir.toString,
          clk.dir.toString, work.toString, maxFilesPerTrigger = 10000,
          stateStoreProvider = stateStoreProvider),
        probe, spark)
    }

  /** Synthetic embedding stream off the `rate` source, in
    * [[StreamingCurationJobs.embSchema]] shape: deterministic
    * per-(row, dim) hash values in [-1, 1). The serialized row is
    * heavy by design (dim doubles of JSON per vector) — exactly the
    * wire cost a real embedding topic pays. */
  def embStream(spark: SparkSession, rowsPerSecond: Int,
                dim: Int = 64): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(col("value").as("vec_id"),
        transform(sequence(lit(1), lit(dim)), j =>
          (pmod(xxhash64(col("value"), j), lit(1000L)).cast("double")
            / lit(500.0)) - lit(1.0)).as("embedding"))

  /** Feeder writing `df` to `topic` under the topic's codec — the wire
    * half [[decoded]] reads back. The feeder's jobs go to their own
    * scheduler pool: under a FAIR scheduler (StreamBench's) a feeder task
    * takes the next free task slot instead of queueing behind the job's
    * tasks, so the job under test does not starve its own load
    * generator. Under FIFO the pool is ignored. */
  private def feedTopic(df: DataFrame, topic: Topic, ck: Path): StreamingQuery = {
    val sc = df.sparkSession.sparkContext
    // the query's thread inherits the starting thread's local properties
    sc.setLocalProperty("spark.scheduler.pool", "feeders")
    try
      if (topic.codec == "binary")
        BinaryTopics.writeValueTopic(BinaryTopics.encode(df).coalesce(2),
          topic.dir.toString, ck.toString)
      else JsonStreams.writeValueTopic(JsonStreams.encode(df).coalesce(2),
        topic.dir.toString, ck.toString)
    finally sc.setLocalProperty("spark.scheduler.pool", null)
  }

  /** One ANN-ingest step: [[embStream]] → embeddings topic →
    * [[StreamingCurationJobs.runAnnIngestJob]] (stateless assignment
    * against a frozen IVF+PQ model) → codes topic, measured as
    * deployed. The frozen model comes from the static sf0.001 corpus —
    * the serving snapshot the arrivals fold into. */
  def annJobStep(spark: SparkSession, rate: Int, feedMs: Long = 20000L,
                 corpusDir: String = "/root/testdata/sf0.001",
                 codec: String = "json"): StepResult =
    inTempDir("graft-sthr-ann") { root =>
      val emb = Topic(root.resolve("embeddings"),
        StreamingCurationJobs.embSchema, codec)
      val work = root.resolve("work")
      val model = graft.similarity.Similarity.freezeAnnIndex(
        spark.read.parquet(s"$corpusDir/embeddings.parquet"))
        .getOrElse(sys.error(s"no freezable corpus in $corpusDir"))
      // the codes topic carries the job's output schema under its codec
      val codesSchema = StreamingCuration.annIngestStream(
        spark.createDataFrame(java.util.List.of[Row](),
          StreamingCurationJobs.embSchema), model).schema
      val feeder = feedTopic(embStream(spark, rate), emb,
        root.resolve("_ck/emb"))
      runStep(if (codec == "json") "ann" else s"ann-$codec",
        rate, feedMs, tailAllowanceMs = 3000L,
        Seq(feeder), Seq(emb),
        () => Seq(StreamingCurationJobs.runAnnIngestJob(spark,
          emb.dir.toString, model, work.toString, codec = codec)),
        Probe.byId(Topic(work.resolve("codes"), codesSchema, codec), "vec_id"),
        spark)
    }

  /** One curation-ingest step: [[docStream]] → docs topic →
    * [[StreamingCurationJobs.runIngestJob]] (benchmark exclusion →
    * watermarked exact dedup → quality gate → curated JSON topic),
    * measured as deployed. A majority of the fed docs must reach the
    * curated sink: a ceiling measured on a job that drops its whole feed
    * would time the drop path only. */
  def ingestJobStep(spark: SparkSession, rate: Int, feedMs: Long = 20000L,
                    simMsPerRow: Long = 20L,
                    stateStoreProvider: Option[String] = None,
                    codec: String = "json"): StepResult =
    inTempDir("graft-sthr-ingest") { root =>
      val docs = Topic(root.resolve("docs"),
        StreamingCurationJobs.docSchema, codec)
      val work = root.resolve("work")
      val feeder = feedTopic(docStream(spark, rate, simMsPerRow = simMsPerRow),
        docs, root.resolve("_ck/docs"))
      // single-query topology: one batch of tail is enough
      val step = runStep(if (codec == "json") "ingest" else s"ingest-$codec",
        rate, feedMs, tailAllowanceMs = 3000L,
        Seq(feeder), Seq(docs),
        () => Seq(StreamingCurationJobs.runIngestJob(spark, docs.dir.toString,
          benchDocs(spark), work.toString,
          stateStoreProvider = stateStoreProvider, codec = codec)),
        Probe.byId(Topic(work.resolve("curated"),
          StreamingCurationJobs.curatedSchema), "doc_id"),
        spark)
      require(step.latency.nRows * 2 >= step.fed,
        s"${step.job} step at $rate/s: only ${step.latency.nRows} of " +
          s"${step.fed} fed docs reached the curated sink - the feed no " +
          "longer clears the deployed gates; fix docStream or the gate " +
          "knobs before trusting this step")
      step
    }
}
