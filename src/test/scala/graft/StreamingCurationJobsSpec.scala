package graft

import graft.streaming.StreamingCurationJobs
import graft.text.{Dedup, TextAnalysis, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}

/**
 * End-to-end streaming curation topology over file-backed topics: raw
 * docs (with injected later-arriving duplicates) → ingest job (dedup →
 * gate → benchmark exclusion) → curated topic → chained stats job →
 * windowed token counts. The curated set and the emitted window counts
 * are both compared against batch recomputations of the same stages.
 */
class StreamingCurationJobsSpec extends SparkSpec {
  import spark.implicits._

  private def writeWave(dir: Path, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), String.join("\n", lines: _*).getBytes)
  }

  private def jsonLines(df: DataFrame): Seq[String] = df.toJSON.collect().toIndexedSeq

  test("decontaminateExclude is exact and its plan is suite-size bounded") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"), col("lang"), col("source"))
    // amplified benchmark suite: the raw matching docs plus k mutated
    // copies (per-copy token suffix → all-new shingles) — inflates the
    // index size without changing WHICH corpus docs overlap it, exactly
    // how a multi-benchmark eval suite grows
    def benchAt(k: Int) = (0 to k).map { i =>
      docs.filter(col("doc_id") % 20 === 3)
        .select((col("doc_id") + i * 1000000L).as("doc_id"),
          (if (i == 0) col("text")
           else regexp_replace(col("text"), "(\\S+)", "$1" + s"b$i")).as("text"))
    }.reduce(_ unionAll _)
    // materialized as a local relation: in production the index is a
    // TABLE (one scan of constant plan text); building it as a k-way
    // union here would grow the plan string with the UNION subtree and
    // mask what this test isolates — the operator's own contribution
    def index(k: Int) = graft.streaming.StreamingCuration
      .benchShingleIndex(benchAt(k), 5)
      .collect().map(_.getString(0)).toSeq.toDF("shingle")
    // ground truth: the pre-r9 literal semantics, computed inline
    val benchShingles = index(0).collect().map(_.getString(0)).toSeq
    val expected = docs.filter(!arrays_overlap(
        array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 5)),
        typedLit(benchShingles)))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty && expected.size < docs.count(),
      "test needs both survivors and exclusions")
    def got(df: DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got(StreamingCurationJobs.decontaminateExclude(
      docs, index(0))) == expected)
    // amplified suite, same corpus overlap: output unchanged
    assert(got(StreamingCurationJobs.decontaminateExclude(
      docs, index(8))) == expected)
    // plan-size bound: the plan carries a broadcast handle and prints
    // only the set size, so it is O(1) in the suite — while the old
    // form's literal grows by the full serialized shingle set (~9× the
    // shingles here)
    val planBase = StreamingCurationJobs.decontaminateExclude(
      docs, index(0)).queryExecution.analyzed.toString.length
    val planBig = StreamingCurationJobs.decontaminateExclude(
      docs, index(8)).queryExecution.analyzed.toString.length
    assert(planBig < (planBase * 1.5).toInt,
      s"plan grew with the benchmark suite: base=$planBase big=$planBig")
    val oldFormBig = docs.filter(!arrays_overlap(
        array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 5)),
        typedLit(index(8).collect().map(_.getString(0)).toSeq)))
      .queryExecution.analyzed.toString.length
    assert(planBig * 3 < oldFormBig,
      s"broadcast form should be far smaller than the literal form at an " +
        s"amplified suite: broadcast=$planBig literal=$oldFormBig")
  }

  test("runIngestJob drains a 32-file backlog in one microbatch, one scan") {
    withTempDir("graft-curation-admission") { root =>
      val topic = root.resolve("docs")
      val work = root.resolve("work").toString
      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .withColumn("ingest_time", timestamp_millis(lit(3600000L) + col("doc_id")))
      val bench = docs.filter(col("doc_id") % 100 === 7)
        .select(col("doc_id"), col("text"))
      // the whole backlog lands before the query starts
      val lines = jsonLines(docs)
      (0 until 32).foreach(f => writeWave(topic, f"part$f%02d.json",
        lines.indices.filter(_ % 32 == f).map(lines)))
      // no trailing no-data batch (the query reads this conf at start), so
      // the last execution is the batch that read the backlog
      val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
      spark.conf.set(noData, "false")
      val ingest = try StreamingCurationJobs.runIngestJob(
        spark, topic.toString, bench, work) finally spark.conf.unset(noData)
      val plan = try {
        ingest.processAllAvailable()
        ingest.asInstanceOf[
            org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan
      } finally ingest.stop()

      val fed = ingest.recentProgress.filter(_.numInputRows > 0)
      assert(fed.map(_.numInputRows).toSeq == Seq(lines.size.toLong),
        s"backlog split over microbatches: ${fed.map(_.numInputRows).mkString(",")}")
      // one file scan, no self-union, no per-batch nested-loop join
      import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
      import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
      assert(plan.collect { case s: FileSourceScanExec => s }.size == 1, plan)
      assert(plan.collect {
        case u: UnionExec => u
        case j: BroadcastNestedLoopJoinExec => j
      }.isEmpty, plan)

      // output = batch gate + exclusion over the same docs
      val benchShingles = Dedup.shingleArrays(bench, 5)
        .select(explode(col("sh")).as("shingle")).distinct()
        .collect().map(_.getString(0)).toSeq
      val expected = TextAnalysis.qualityGate(docs, passThrough = Seq("text"))
        .filter(col("keep"))
        .filter(!arrays_overlap(
          array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 5)),
          typedLit(benchShingles)))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val got = spark.read.schema(StreamingCurationJobs.curatedSchema)
        .json(s"$work/curated").select("doc_id")
        .collect().map(_.getLong(0)).toSeq
      assert(expected.nonEmpty && got.toSet == expected,
        s"only-stream=${got.toSet -- expected} only-batch=${expected -- got.toSet}")
      assert(got.length == got.toSet.size)
    }
  }

  test("ingest + chained stats jobs reproduce the batch curation stages") {
    withTempDir("graft-curation-jobs") { root =>
      val topic = root.resolve("docs")
      val work = root.resolve("work").toString
      val baseMs = 3600000L

      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
      // benchmark set: a handful of real docs — they and their duplicates
      // must be excluded from the curated output
      val bench = docs.filter(col("doc_id") % 100 === 7)
        .select(col("doc_id"), col("text"))
      // ingest times spread over 5 one-minute windows
      val timed = docs.withColumn("ingest_time",
        timestamp_millis(lit(baseMs) + (col("doc_id") % 5) * 60000L))
      // duplicates: re-ingest 40 docs a minute later under fresh ids —
      // the streaming dedup must keep the ORIGINALS (first arrival)
      val dups = timed.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"), col("source"),
          timestamp_millis(unix_millis(col("ingest_time")) + 60000L)
            .as("ingest_time"))

      // wave 0 = originals, wave 1 = late duplicates, sentinel flushes the
      // stats job's windows (dedup itself emits survivors immediately).
      // The dedup horizon must cover the 1-minute re-ingest gap: with a
      // short delay the originals' state is (correctly) GC'd before the
      // duplicates arrive and they re-emit — the documented bounded-state
      // trade, exercised in StreamingCurationSpec.
      writeWave(topic, "wave0.json", jsonLines(timed))
      val ingest = StreamingCurationJobs.runIngestJob(
        spark, topic.toString, bench, work, watermarkDelay = "2 minutes")
      val stats = StreamingCurationJobs.runStatsJob(
        spark, work, windowLength = "1 minute", watermarkDelay = "5 seconds")
      try {
        def stepAll(): Unit = { ingest.processAllAvailable(); stats.processAllAvailable() }
        stepAll()
        writeWave(topic, "wave1.json", jsonLines(dups))
        stepAll()
        // the sentinel must PASS the gate (≥30 tokens, stopwords, no
        // repetition) or it never reaches the curated topic and the stats
        // job's windows never flush
        val sentinelText = ("the and for with from" +:
          (1 to 35).map(i => f"sw$i%03d")).mkString(" ")
        writeWave(topic, "sentinel.json", jsonLines(
          Seq((999999L, sentinelText, "en", "sentinel"))
            .toDF("doc_id", "text", "lang", "source")
            .withColumn("ingest_time", timestamp_millis(lit(baseMs + 86400000L)))))
        stepAll()

        val curated = spark.read
          .schema(StreamingCurationJobs.curatedSchema)
          .json(s"$work/curated")
          .filter(col("doc_id") =!= 999999L)

        // batch recomputation of the same stages over the ORIGINAL docs
        // (the streaming dedup kept first arrivals = the originals)
        val gateKeep = TextAnalysis.qualityGate(docs).filter(col("keep"))
          .select(col("doc_id"))
        val benchShingles = Dedup.shingleArrays(bench, 5)
          .select(explode(col("sh")).as("shingle")).distinct()
          .collect().map(_.getString(0)).toSeq
        val clean = docs.filter(!arrays_overlap(
          array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 5)),
          typedLit(benchShingles)))
          .select(col("doc_id"))
        val expected = gateKeep.join(clean, "doc_id")
          .collect().map(_.getLong(0)).toSet

        val got = curated.select("doc_id").collect().map(_.getLong(0)).toSet
        assert(expected.nonEmpty && got == expected,
          s"only-stream=${got -- expected} only-batch=${expected -- got}")
        // no injected duplicate survived
        assert(!got.exists(_ >= 1000000L))

        // chained stats: every emitted (window, token) row must match the
        // batch recomputation over the curated survivors
        val emitted = spark.read.text(s"$work/token_stats")
          .select(from_json(col("value"),
            "window_start timestamp, window_end timestamp, token string, " +
              "n_occurrences bigint, doc_freq bigint",
            Map.empty[String, String]).as("e"))
          .select("e.*")
          .filter(col("window_start") < timestamp_millis(lit(baseMs + 86400000L)))
        assert(emitted.count() > 0)
        val batchCounts = curated
          .select(col("doc_id"),
            date_trunc("minute", col("ingest_time")).as("window_start"),
            explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy(col("window_start"), col("token"))
          .agg(count(lit(1)).as("n_occurrences"),
            count_distinct(col("doc_id")).as("doc_freq"))
        val mismatches = emitted.alias("s")
          .join(batchCounts.alias("b"), Seq("window_start", "token"), "full_outer")
          .filter(col("s.n_occurrences").isNull || col("b.n_occurrences").isNull ||
            col("s.n_occurrences") =!= col("b.n_occurrences") ||
            col("s.doc_freq") =!= col("b.doc_freq"))
        assert(mismatches.count() == 0,
          s"window-count mismatches:\n${mismatches.collect().mkString("\n")}")
      } finally { ingest.stop(); stats.stop() }
    }
  }

  test("curation ingest checkpoint recovery: restart mid-stream is " +
    "exactly-once, dedup state survives (T6)") {
    withTempDir("graft-curation-recovery") { root =>
      val topic = root.resolve("docs")
      val work = root.resolve("work").toString
      val baseMs = 3600000L

      val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"), col("lang"), col("source"))
        .withColumn("ingest_time",
          timestamp_millis(lit(baseMs) + (col("doc_id") % 5) * 60000L))
      val bench = Seq.empty[(Long, String)].toDF("doc_id", "text")

      def launch() = StreamingCurationJobs.runIngestJob(
        spark, topic.toString, bench, work, watermarkDelay = "10 minutes")

      // phase 1: first half, then STOP — dedup state lives in the checkpoint
      writeWave(topic, "w0.json", jsonLines(docs.filter(col("doc_id") < 250)))
      val p1 = launch()
      try p1.processAllAvailable() finally p1.stop()

      // phase 2: second half PLUS re-sent copies of phase-1 docs (same ids,
      // same text): recovered dedup state must drop every one of them
      writeWave(topic, "w1.json", jsonLines(
        docs.filter(col("doc_id") >= 250)
          .unionByName(docs.filter(col("doc_id") < 40))))
      val p2 = launch()
      try p2.processAllAvailable() finally p2.stop()

      val curated = spark.read
        .schema(StreamingCurationJobs.curatedSchema).json(s"$work/curated")
      val expected = TextAnalysis.qualityGate(docs).filter(col("keep"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val got = curated.select("doc_id").collect().map(_.getLong(0)).toSeq
      // exactly-once across the restart: every gate survivor once, nothing
      // re-emitted — the re-sent duplicates hit the RECOVERED dedup state
      assert(got.toSet == expected,
        s"only-stream=${got.toSet -- expected} only-batch=${expected -- got.toSet}")
      assert(got.length == got.toSet.size, "duplicate rows after recovery")
    }
  }
}
