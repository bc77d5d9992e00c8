package graftbench

import java.nio.file.Paths

import graft.streaming.StreamingCurationJobs
import graft.text.{Dedup, TextAnalysis, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ingest_stream: `StreamingCurationJobs.runIngestJob` (Bloom benchmark
  * exclusion, watermarked exact dedup, quality gate, curated topic) fed over
  * its docs topic. The feed mixes stated shares of duplicates, gate rejects
  * and benchmark-contaminated documents so the drop paths and the sink path
  * all do work. */
object IngestStream {
  val TickMs = 250L
  val EpochMs = 1704067200000L
  /** Documents per wall-clock second in the open-loop phase: about a
    * quarter of the rate at which the job drains a backlog (~2,300 docs/s
    * at local[4]), so no queue builds up; warm-up and backlog files hold
    * `BacklogPerTick` documents each. */
  val LatencyRate = 600
  val WarmTicks = 64
  /** The catch-up lands `Backlogs` backlogs of `BacklogTicks` files one
    * after another and times each drain: a burst of host contention then
    * slows one drain of three, not the run's only one. */
  val Backlogs = 3
  val BacklogTicks = 32
  val BacklogPerTick = 250
  /** Feed shares: exact duplicate of a document from the last few ticks,
    * too short for the gate, repetitive (fails the gate's repetition rule),
    * and carrying a benchmark 5-gram. The rest are clean keepers. */
  val DupShare = 0.10
  val ShortShare = 0.06
  val RepetitiveShare = 0.04
  val ContaminatedShare = 0.03

  private val Stopwords = Array("the", "of", "and", "in", "to", "a")
  private val Words: Array[String] = {
    val r = new scala.util.Random(7)
    Array.fill(600)(Seq.fill(3 + r.nextInt(6))(('a' + r.nextInt(26)).toChar).mkString)
  }
  private def words(r: scala.util.Random, n: Int): Seq[String] =
    (1 to n).map(j => if (j % 5 == 0) Stopwords(r.nextInt(Stopwords.length))
                      else Words(r.nextInt(Words.length)))

  /** The benchmark suite the job excludes: eight 40-word texts. */
  val BenchTexts: Seq[String] = {
    val r = new scala.util.Random(11)
    Seq.fill(8)(words(r, 40).mkString(" "))
  }

  final case class Doc(id: Long, text: String, tick: Int)

  def generate(perTick: IndexedSeq[Int], seed: Long): Seq[Doc] = {
    val r = new scala.util.Random(seed)
    val recent = scala.collection.mutable.ArrayBuffer.empty[Doc]
    var id = 0L
    perTick.indices.flatMap { k =>
      recent.filterInPlace(_.tick >= k - 4)
      (0 until perTick(k)).map { _ =>
        val u = r.nextDouble()
        val text =
          if (u < DupShare && recent.nonEmpty) recent(r.nextInt(recent.size)).text
          else if (u < DupShare + ShortShare) words(r, 8 + r.nextInt(15)).mkString(" ")
          else if (u < DupShare + ShortShare + RepetitiveShare)
            Seq.fill(7)(words(r, 6).mkString(" ")).mkString(" ")
          else if (u < DupShare + ShortShare + RepetitiveShare + ContaminatedShare) {
            val b = BenchTexts(r.nextInt(BenchTexts.size)).split(" ")
            val at = r.nextInt(b.length - 6)
            (words(r, 20) ++ b.slice(at, at + 6) ++ words(r, 20)).mkString(" ")
          } else words(r, 30 + r.nextInt(60)).mkString(" ")
        id += 1
        val d = Doc(id, text, k)
        recent += d
        d
      }
    }
  }

  private def line(d: Doc): String =
    s"""{"doc_id":${d.id},"text":"${d.text}","lang":"en","source":"feed",""" +
      s""""ingest_time":"${java.time.Instant.ofEpochMilli(EpochMs + d.tick * TickMs + d.id % 97)}"}"""

  def run(a: Main.Args): String = {
    val (spark, progress, counters) = StreamSetup.start(a)
    import spark.implicits._
    val sessionS = Main.sinceJvmStartS
    val t0 = System.nanoTime()
    val root = Paths.get(a.work)
    val (docsDir, work) = (root.resolve("docs"), root.resolve("curation"))
    StreamSetup.mkdirs(docsDir, work)
    val latencyTicks = math.max(20, (a.seconds * 1000 / TickMs).toInt)
    val perLatTick = (LatencyRate * TickMs / 1000).toInt
    val perTick = Vector.fill(WarmTicks + Backlogs * BacklogTicks)(BacklogPerTick) ++
      Vector.fill(latencyTicks)(perLatTick)
    val docs = generate(perTick, a.seed)
    val byTick = docs.groupBy(_.tick)
    val ticks = perTick.indices.map(k =>
      Tick(Seq(docsDir -> byTick.getOrElse(k, Nil).map(line))))
    val bench = BenchTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val layoutS = Proc.secondsSince(t0)

    val t1 = System.nanoTime()
    val query = StreamingCurationJobs.runIngestJob(spark, docsDir.toString, bench,
      work.toString)
    Feed.land(ticks.take(WarmTicks), 0)
    query.processAllAvailable()
    val warmS = Proc.secondsSince(t1)
    val setup = Map("session_s" -> sessionS, "layout_s" -> layoutS, "warm_s" -> warmS,
      "total_s" -> Main.sinceJvmStartS)

    val steal0 = Proc.stealS
    val c0 = System.nanoTime()
    val drains = (0 until Backlogs).map { b =>
      val from = WarmTicks + b * BacklogTicks
      val backlog = ticks.slice(from, from + BacklogTicks)
      val d0 = System.nanoTime()
      Feed.land(backlog, from)
      query.processAllAvailable()
      (backlog.map(_.events).sum.toLong, Proc.secondsSince(d0))
    }

    val first = WarmTicks + Backlogs * BacklogTicks
    val consumedBefore = progress.inputRows(query)
    val feeder = Feed.openLoop(ticks.drop(first), first, TickMs)
    feeder.join()
    val measuredS = Proc.secondsSince(c0)
    val stealS = Proc.stealS - steal0
    val consumedAtEnd = progress.inputRows(query) - consumedBefore
    query.processAllAvailable()
    query.stop()
    val landedLatency = ticks.drop(first).map(_.events).sum.toLong
    val exec = counters.map { c => ExecCounters.sync(spark); c.snapshot }.getOrElse(Map.empty)
    val codegen = if (a.trace) CodegenLog.snapshot else Map.empty[String, Double]

    // latency per curated doc: its tick's due time -> commit of its sink file
    val curatedDir = work.resolve("curated").toString
    val got = spark.read.schema(StreamingCurationJobs.curatedSchema).json(curatedDir)
      .withColumn("file", regexp_extract(input_file_name(), "[^/]+$", 0))
      .cache()
    val due = docs.filter(_.tick >= first)
      .map(d => (d.id, feeder.dueMs(d.tick - first))).toDF("doc_id", "due_ms")
    val commits = Sink.commitTimes(curatedDir).toSeq.toDF("file", "commit_ms")
    val latencies = got.join(commits, "file").join(due, "doc_id")
      .select((col("commit_ms") - col("due_ms")).cast("double")).as[Double].collect().toSeq

    val landed = docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
    val failures = check(spark, landed, bench, got)
    val kept = got.count().toDouble / docs.size
    got.unpersist()
    spark.stop()
    StreamResult(setup, drains, latencies, feeder,
      math.max(0L, landedLatency - consumedAtEnd), docs.size.toLong,
      failures.size.toLong, failures, kept, progress, exec, codegen, measuredS,
      stealS)
      .json(a.workload, a.trace)
  }

  /** The curated topic must hold each text the batch curation path keeps
    * (quality gate passes and no benchmark 5-gram) exactly once, and
    * nothing else. One failure per differing text. */
  def check(spark: SparkSession, landed: DataFrame, bench: DataFrame,
            got: DataFrame): Seq[String] = {
    val benchShingles = Dedup.shingleArrays(bench, 5)
      .select(explode(col("sh")).as("shingle")).distinct()
      .collect().map(_.getString(0)).toSeq
    val keep = TextAnalysis.qualityGate(landed, passThrough = Seq("text"))
      .filter(col("keep"))
      .filter(!arrays_overlap(
        array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 5)),
        typedLit(benchShingles)))
    val want = keep.select("text").distinct().collect().map(_.getString(0)).toSet
    val gotTexts = got.select("text").collect().map(_.getString(0)).toSeq
    val counts = gotTexts.groupBy(identity).map { case (t, xs) => t -> xs.size }
    val extra = counts.keySet.diff(want).toSeq.map(t => s"unexpected: ${t.take(40)}")
    val missing = want.diff(counts.keySet).toSeq.map(t => s"missing: ${t.take(40)}")
    val twice = counts.collect { case (t, n) if n > 1 => s"kept $n times: ${t.take(40)}" }
    extra ++ missing ++ twice
  }
}
