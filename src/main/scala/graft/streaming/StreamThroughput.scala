package graft.streaming

import graft.fixtures.StreamingEventGenerator
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.{Files, Path}

/**
 * Rate-driven streaming throughput harness — the measurement the
 * reference publishes exactly one operating point for (its generator's
 * EVENT_RATE=50 envelope, reference `docker-compose.yml:121`). Each step
 * runs a REAL producer/consumer topology at a target input rate:
 *
 *  1. a feeder query — [[StreamingEventGenerator]]'s `rate` source (or
 *     [[docStream]] for the curation side) encoded to JSON and written to
 *     the same file-backed topics the jobs deploy against — produces at
 *     `rate` rows per wall-second for `feedMs`;
 *  2. the job under test ([[StreamingJobs.runMainJob]] /
 *     [[StreamingCurationJobs.runIngestJob]]) consumes CONCURRENTLY,
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

  /** One rate step's measurements. `eventsIn` counts rows actually
    * landed on the input topics (impressions + clicks, or docs); `fed`
    * counts the rows the rate-driven feeder landed on its own topic
    * (impressions, docs, embeddings), the rows `rate` offers.
    * `ratePerSec` is end-to-end events/s over feed+drain (a lower bound
    * on capacity whether or not the step kept pace); [[sustainedRate]]
    * is the throughput the step demonstrates: the offered load when the
    * job kept pace, the measured drain-inclusive rate when it queued. */
  final case class StepResult(job: String, rate: Int, eventsIn: Long,
                              feedMs: Long, drainMs: Long,
                              ratePerSec: Double, p95BatchMs: Long,
                              batches: Int, sustained: Boolean,
                              fed: Long,
                              stateRows: Long = -1L,
                              stateBytes: Long = -1L) {
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
        s""""sustained":$sustained}"""
  }

  /** A job's measured ceiling: the ladder's steps and why it stopped —
    * `"job"` (a step fell behind), `"feed"` (the feeder landed too little
    * of the offered rate, so `value` is a lower bound) or `"ladder"` (the
    * top step still kept pace). `value` is the highest sustained rate. */
  final case class Ceiling(steps: Seq[StepResult], bound: String) {
    def value: Long = steps.filter(_.sustained)
      .map(s => math.round(s.sustainedRate)).foldLeft(0L)(math.max)
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

  /** Synthetic curation-ingest document stream off the `rate` source, in
    * [[StreamingCurationJobs.docSchema]] shape: ~40-word texts drawn
    * from a small vocabulary by per-(row, position) hash — varied enough
    * to exercise shingling/fingerprinting, with natural duplicates so
    * the dedup stage does real work. Event time advances `simMsPerRow`
    * ms per row from `startMs`, independent of wall pace. */
  def docStream(spark: SparkSession, rowsPerSecond: Int,
                startMs: Long = 0L, simMsPerRow: Long = 20L,
                vocab: Int = 64, wordsPerDoc: Int = 40): DataFrame = {
    val words = array((0 until vocab).map(i => lit(s"w$i")): _*)
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .load()
      .select(col("value").as("idx"))
      .select(
        col("idx").as("doc_id"),
        concat_ws(" ", transform(sequence(lit(1), lit(wordsPerDoc)),
          j => element_at(words,
            (pmod(xxhash64(col("idx") % 5000, j), lit(vocab)) + 1).cast("int"))))
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

  private def runStep(job: String, rate: Int, feedMs: Long,
                      tailAllowanceMs: Long,
                      feeders: Seq[StreamingQuery],
                      topics: Seq[Path],
                      startConsumer: () => Seq[StreamingQuery],
                      spark: SparkSession,
                      countTopic: Option[Path => Long] = None): StepResult = {
    val countFn: Path => Long =
      countTopic.getOrElse(t => spark.read.text(t.toString).count())
    topics.foreach(awaitTopic(_))
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
    try {
      val feedStart = System.nanoTime()
      Thread.sleep(feedMs)
      feeders.foreach(_.stop())
      val feedEnd = System.nanoTime()
      // chained queries: drain in topology order, twice, so downstream
      // consumes what upstream wrote during the first drain pass
      consumers.foreach(_.processAllAvailable())
      consumers.foreach(_.processAllAvailable())
      val drainEnd = System.nanoTime()
      val landed = topics.map(countFn)
      val eventsIn = landed.sum
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
        fed = landed.head, stateRows = stateRows, stateBytes = stateBytes)
    } finally {
      feeders.foreach(f => if (f.isActive) f.stop())
      consumers.foreach(_.stop())
      spark.streams.removeListener(listener)
    }
  }

  /** One main-job step: generator → impressions/clicks topics →
    * [[StreamingJobs.runMainJob]] (join + two windowed aggregations over
    * three chained queries), measured as deployed. */
  def mainJobStep(spark: SparkSession, rate: Int, feedMs: Long = 20000L,
                  simMsPerRow: Long = 20L,
                  stateStoreProvider: Option[String] = None,
                  skewShare: Double = 0.0): StepResult =
    inTempDir("graft-sthr-main") { root =>
      val impr = root.resolve("impressions")
      val clk = root.resolve("clicks")
      val (iStream, cStream) = StreamingEventGenerator.events(spark, rate,
        startMs = 0L, simMsPerRow = simMsPerRow, skewShare = skewShare)
      // coalesce: the rate source defaults to one partition per core; at
      // these volumes 32 files per topic per microbatch is pure listing
      // overhead for the consumer
      val f1 = JsonStreams.writeValueTopic(JsonStreams.encode(iStream).coalesce(2),
        impr.toString, root.resolve("_ck/impr").toString)
      val f2 = JsonStreams.writeValueTopic(JsonStreams.encode(cStream).coalesce(2),
        clk.toString, root.resolve("_ck/clk").toString)
      // 12s tail: three chained queries drained twice in topology order,
      // each with a multi-second state-commit batch floor — measured
      // rate-independent (no backlog component) across 5k..80k ev/s
      runStep(if (skewShare > 0) s"main-skew$skewShare" else "main",
        rate, feedMs, tailAllowanceMs = 12000L,
        Seq(f1, f2), Seq(impr, clk),
        () => StreamingJobs.runMainJob(spark, impr.toString, clk.toString,
          root.resolve("work").toString, maxFilesPerTrigger = 10000,
          stateStoreProvider = stateStoreProvider),
        spark)
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

  /** Feeder + record counter for a topic under `codec` — the wire halves
    * a step swaps as one unit ([[BinaryTopics]] vs [[JsonStreams]]). */
  private def feedTopic(df: DataFrame, codec: String,
                        dir: Path, ck: Path): StreamingQuery =
    if (codec == "binary")
      BinaryTopics.writeValueTopic(BinaryTopics.encode(df).coalesce(2),
        dir.toString, ck.toString)
    else JsonStreams.writeValueTopic(JsonStreams.encode(df).coalesce(2),
      dir.toString, ck.toString)

  private def topicCounter(spark: SparkSession, codec: String): Path => Long =
    if (codec == "binary") t => BinaryTopics.countTopic(spark, t.toString)
    else t => spark.read.text(t.toString).count()

  /** One ANN-ingest step: [[embStream]] → embeddings topic →
    * [[StreamingCurationJobs.runAnnIngestJob]] (stateless assignment
    * against a frozen IVF+PQ model) → codes topic, measured as
    * deployed. The frozen model comes from the static sf0.001 corpus —
    * the serving snapshot the arrivals fold into. */
  def annJobStep(spark: SparkSession, rate: Int, feedMs: Long = 20000L,
                 corpusDir: String = "/root/testdata/sf0.001",
                 codec: String = "json"): StepResult =
    inTempDir("graft-sthr-ann") { root =>
      val emb = root.resolve("embeddings")
      val model = graft.similarity.Similarity.freezeAnnIndex(
        spark.read.parquet(s"$corpusDir/embeddings.parquet"))
        .getOrElse(sys.error(s"no freezable corpus in $corpusDir"))
      val feeder = feedTopic(embStream(spark, rate), codec,
        emb, root.resolve("_ck/emb"))
      runStep(if (codec == "json") "ann" else s"ann-$codec",
        rate, feedMs, tailAllowanceMs = 3000L,
        Seq(feeder), Seq(emb),
        () => Seq(StreamingCurationJobs.runAnnIngestJob(spark, emb.toString,
          model, root.resolve("work").toString, codec = codec)),
        spark, Some(topicCounter(spark, codec)))
    }

  // ── end-to-end latency receipts (r14) ──────────────────────────────
  //
  // Throughput says how much a job keeps up with; an SLA is stated in
  // LATENCY: how long after a record lands on the input topic is its
  // effect visible at the sink. Measured over the DEPLOYED topologies
  // with zero instrumentation inside the jobs — a file-backed topic's
  // record becomes consumable exactly when its file commits, so both
  // clocks (ingest = input file mtime, sink-visible = output file
  // mtime) are read POST-HOC from the filesystem and joined back to the
  // records by id. Latency therefore includes everything a user waits
  // for: source listing cadence, microbatch scheduling, state commits,
  // chained-topology hops, and (for windowed aggregates) the watermark
  // close itself.

  final case class LatencyResult(job: String, rate: Int, nRows: Long,
                                 p50Ms: Long, p95Ms: Long, maxMs: Long) {
    def json: String =
      s"""{"job":"$job","rate":$rate,"rows":$nRows,""" +
        s""""p50_ms":$p50Ms,"p95_ms":$p95Ms,"max_ms":$maxMs}"""
  }

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

  /** Attach each row's file mtime (via `input_file_name`) as column `as`. */
  private def withMtime(df: DataFrame, m: DataFrame, as: String): DataFrame =
    df.withColumn("__path",
        regexp_replace(input_file_name(), "^file:/+", "/"))
      .join(broadcast(m), Seq("__path"))
      .withColumnRenamed("__mtime", as)
      .drop("__path")

  private def latencyOf(lat: DataFrame, job: String,
                        rate: Int): LatencyResult = {
    val r = lat.agg(count(lit(1)), percentile(col("__lat"), lit(0.5)),
      percentile(col("__lat"), lit(0.95)), max(col("__lat"))).collect()(0)
    if (r.getLong(0) == 0L) LatencyResult(job, rate, 0L, 0L, 0L, 0L)
    else LatencyResult(job, rate, r.getLong(0),
      math.round(r.getDouble(1)), math.round(r.getDouble(2)), r.getLong(3))
  }

  /** Gate-PASSING, dedup-SURVIVING document stream for the latency
    * receipt: the throughput feed ([[docStream]]) deliberately emits
    * stopword-free, content-cycled docs that the quality gate and the
    * exact dedup drop to zero — right for measuring the full drop
    * pipeline's throughput, useless for landed→sink-visible latency
    * (nothing reaches the sink). This variant interleaves stopwords
    * (every 5th token) and varies tokens over the FULL row index, so
    * every document is unique and MOST clear the deployed gates; the
    * job under test is unchanged, which means its quality gate (stub
    * weights when the runner passes none) still scores every arrival —
    * the latency sample covers SURVIVORS only, and
    * [[ingestLatencyStep]] asserts the survivor fraction stays high so
    * a future gate change cannot quietly hollow the receipt out to a
    * handful of lucky rows (ADVICE r14). */
  def docStreamCurated(spark: SparkSession, rowsPerSecond: Int,
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

  /** Per-record landed→sink-visible latency for the curation-ingest job
    * over the [[docStreamCurated]] feed (the deployed job unchanged —
    * the throughput feed's rows all drop at the gates by design, so a
    * latency sample needs survivors). */
  def ingestLatencyStep(spark: SparkSession, rate: Int,
                        feedMs: Long = 20000L): LatencyResult =
    inTempDir("graft-lat-ingest") { root =>
      val docs = root.resolve("docs")
      val work = root.resolve("work")
      val feeder = feedTopic(docStreamCurated(spark, rate), "json", docs,
        root.resolve("_ck/docs"))
      awaitTopic(docs)
      val consumer = StreamingCurationJobs.runIngestJob(spark, docs.toString,
        benchDocs(spark), work.toString)
      try {
        Thread.sleep(feedMs)
        feeder.stop()
        consumer.processAllAvailable()
      } finally {
        if (feeder.isActive) feeder.stop()
        consumer.stop()
      }
      val in = withMtime(
        spark.read.text(docs.toString).select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id")),
        mtimeFrame(spark, docs), "__in")
        .groupBy(col("doc_id")).agg(min(col("__in")).as("__in"))
      val out = withMtime(
        spark.read.text(s"$work/curated").select(
          get_json_object(col("value"), "$.doc_id").cast("long").as("doc_id")),
        mtimeFrame(spark, work.resolve("curated")), "__out")
        .groupBy(col("doc_id")).agg(min(col("__out")).as("__out"))
      // The sample is SURVIVORS-only (the deployed job's gates still run);
      // require a majority to reach the sink so a gate change that drops
      // most of the feed fails the receipt loudly rather than silently
      // measuring a handful of lucky rows (ADVICE r14).
      val (nIn, nOut) = (in.count(), out.count())
      require(nOut * 2 >= nIn,
        s"ingestLatencyStep: only $nOut of $nIn fed docs reached the sink - " +
          "the feed no longer clears the deployed gates; fix docStreamCurated " +
          "or the gate knobs before trusting this latency sample")
      latencyOf(out.join(in, "doc_id")
        .select((col("__out") - col("__in")).as("__lat")), "ingest", rate)
    }

  /** Per-record landed→sink-visible latency for the ANN codes job. */
  def annLatencyStep(spark: SparkSession, rate: Int,
                     feedMs: Long = 20000L,
                     corpusDir: String = "/root/testdata/sf0.001")
      : LatencyResult =
    inTempDir("graft-lat-ann") { root =>
      val emb = root.resolve("embeddings")
      val work = root.resolve("work")
      val model = graft.similarity.Similarity.freezeAnnIndex(
        spark.read.parquet(s"$corpusDir/embeddings.parquet"))
        .getOrElse(sys.error(s"no freezable corpus in $corpusDir"))
      val feeder = feedTopic(embStream(spark, rate), "json", emb,
        root.resolve("_ck/emb"))
      awaitTopic(emb)
      val consumer = StreamingCurationJobs.runAnnIngestJob(spark, emb.toString,
        model, work.toString)
      try {
        Thread.sleep(feedMs)
        feeder.stop()
        consumer.processAllAvailable()
      } finally {
        if (feeder.isActive) feeder.stop()
        consumer.stop()
      }
      val in = withMtime(
        spark.read.text(emb.toString).select(
          get_json_object(col("value"), "$.vec_id").cast("long").as("vec_id")),
        mtimeFrame(spark, emb), "__in")
        .groupBy(col("vec_id")).agg(min(col("__in")).as("__in"))
      val out = withMtime(
        spark.read.text(s"$work/codes").select(
          get_json_object(col("value"), "$.vec_id").cast("long").as("vec_id")),
        mtimeFrame(spark, work.resolve("codes")), "__out")
        .groupBy(col("vec_id")).agg(min(col("__out")).as("__out"))
      latencyOf(out.join(in, "vec_id")
        .select((col("__out") - col("__in")).as("__lat")), "ann", rate)
    }

  /**
   * Per-WINDOW landed→sink-visible latency for the main ad job: a ctr
   * output row's clock starts when its LAST contributing impression
   * lands on the topic (clicks land in the same feed window; the
   * impression clock is the window's completion point) and stops when
   * the ctr row's sink file commits — so the measure includes the
   * interval join, the materialized-topic hop, the chained watermark
   * advance that closes the window, and every microbatch in between.
   * Only windows the watermark actually closed during the run emit (the
   * last ~chainedWatermarkDelay of event time never closes — correct
   * append-mode semantics, not measurement loss).
   */
  def mainLatencyStep(spark: SparkSession, rate: Int,
                      feedMs: Long = 20000L,
                      simMsPerRow: Long = 20L,
                      skewShare: Double = 0.0): LatencyResult =
    inTempDir("graft-lat-main") { root =>
      val impr = root.resolve("impressions")
      val clk = root.resolve("clicks")
      val work = root.resolve("work")
      val (iStream, cStream) = StreamingEventGenerator.events(spark, rate,
        startMs = 0L, simMsPerRow = simMsPerRow, skewShare = skewShare)
      val f1 = JsonStreams.writeValueTopic(JsonStreams.encode(iStream).coalesce(2),
        impr.toString, root.resolve("_ck/impr").toString)
      val f2 = JsonStreams.writeValueTopic(JsonStreams.encode(cStream).coalesce(2),
        clk.toString, root.resolve("_ck/clk").toString)
      Seq(impr, clk).foreach(awaitTopic(_))
      val consumers = StreamingJobs.runMainJob(spark, impr.toString,
        clk.toString, work.toString, maxFilesPerTrigger = 10000)
      try {
        Thread.sleep(feedMs)
        Seq(f1, f2).foreach(_.stop())
        consumers.foreach(_.processAllAvailable())
        consumers.foreach(_.processAllAvailable())
      } finally {
        Seq(f1, f2).foreach(f => if (f.isActive) f.stop())
        consumers.foreach(_.stop())
      }
      // Reconstruct the job's windows with Spark's OWN window() over the
      // job's OWN width constant — not a hardcoded date_trunc — so a
      // future width/alignment change in runMainJob moves this side too
      // (ADVICE r14: a mismatch here silently emptied the in/out join).
      val in = withMtime(
        spark.read.text(impr.toString).select(
          get_json_object(col("value"), "$.campaign_id").as("campaign_id"),
          get_json_object(col("value"), "$.event_timestamp").cast("long")
            .as("__ts")),
        mtimeFrame(spark, impr), "__in")
        .select(col("campaign_id"),
          window(timestamp_millis(col("__ts")),
            StreamingJobs.DefaultWindowLength)
            .getField("start").as("window_start"),
          col("__in"))
        .groupBy(col("window_start"), col("campaign_id"))
        .agg(max(col("__in")).as("__in"))
      val out = withMtime(
        spark.read.text(s"$work/ctr_results").select(
          get_json_object(col("value"), "$.campaign_id").as("campaign_id"),
          get_json_object(col("value"), "$.window_start").cast("timestamp")
            .as("window_start")),
        mtimeFrame(spark, work.resolve("ctr_results")), "__out")
        .groupBy(col("window_start"), col("campaign_id"))
        .agg(min(col("__out")).as("__out"))
      val joined = out.join(in, Seq("window_start", "campaign_id"))
        .select((col("__out") - col("__in")).as("__lat"))
      val res = latencyOf(joined,
        if (skewShare > 0) s"main-skew$skewShare" else "main", rate)
      // A sink with closed windows but an EMPTY in/out join is a
      // measurement-code mismatch (window reconstruction drifted from the
      // job), not "no windows closed" — fail loudly instead of reporting
      // rows=0 (ADVICE r14).
      if (res.nRows == 0L && !spark.read.text(s"$work/ctr_results").isEmpty)
        sys.error("mainLatencyStep: ctr sink has rows but the window-keyed " +
          "in/out join is empty - the step's window reconstruction no " +
          "longer matches runMainJob's windowing")
      res
    }

  /** One curation-ingest step: [[docStream]] → docs topic →
    * [[StreamingCurationJobs.runIngestJob]] (benchmark exclusion →
    * watermarked exact dedup → quality gate), measured as deployed. */
  def ingestJobStep(spark: SparkSession, rate: Int, feedMs: Long = 20000L,
                    simMsPerRow: Long = 20L,
                    stateStoreProvider: Option[String] = None,
                    codec: String = "json"): StepResult =
    inTempDir("graft-sthr-ingest") { root =>
      val docs = root.resolve("docs")
      val feeder = feedTopic(docStream(spark, rate, simMsPerRow = simMsPerRow),
        codec, docs, root.resolve("_ck/docs"))
      // single-query topology: one batch of tail is enough
      runStep(if (codec == "json") "ingest" else s"ingest-$codec",
        rate, feedMs, tailAllowanceMs = 3000L,
        Seq(feeder), Seq(docs),
        () => Seq(StreamingCurationJobs.runIngestJob(spark, docs.toString,
          benchDocs(spark), root.resolve("work").toString,
          stateStoreProvider = stateStoreProvider, codec = codec)),
        spark, Some(topicCounter(spark, codec)))
    }
}
