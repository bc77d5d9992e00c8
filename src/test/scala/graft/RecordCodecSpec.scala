package graft

import graft.similarity.Similarity
import graft.streaming.{BinaryTopics, JsonStreams, StreamingCurationJobs, TopicCodec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

/**
 * The binary topic codec ([[BinaryTopics]] over
 * [[org.apache.spark.sql.graftshim.RecordCodec]]): exact round-trip over
 * every supported type and null shape, the whole-record drop tolerance
 * contract for damaged records, wire-size advantage over the JSON twin,
 * and codec-parity of the deployed ingest/ANN jobs — the same outputs
 * whichever codec carries the topics.
 */
class RecordCodecSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private val kitchenSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("n", IntegerType),
    StructField("x", DoubleType),
    StructField("flag", BooleanType),
    StructField("s", StringType),
    StructField("t", TimestampType),
    StructField("v", ArrayType(DoubleType))))

  private def kitchenRows: Seq[Row] = Seq(
    Row(1L, 42, 3.25, true, "plain", java.sql.Timestamp.valueOf("2024-01-02 03:04:05.123456"),
      Seq(1.0, -2.5, 0.0)),
    Row(2L, -7, -0.0, false, "unicode é中文 😀", null, Seq.empty[Double]),
    Row(3L, null, Double.MaxValue, null, "", java.sql.Timestamp.valueOf("1969-12-31 23:59:59.0"),
      null),
    Row(4L, 0, null, true, null, null, Seq(null, 1.5, null).asInstanceOf[Seq[Any]]),
    Row(null, null, null, null, null, null, null))

  test("binary codec round-trips every supported type, null field, and " +
    "null array element exactly") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(kitchenRows, 2), kitchenSchema)
    val back = BinaryTopics.decode(BinaryTopics.encode(df), kitchenSchema)
    assert(back.schema == kitchenSchema)
    val got = back.collect().map(_.toSeq).toSet
    val want = df.collect().map(_.toSeq).toSet
    assert(got == want, s"only-got=${got -- want} only-want=${want -- got}")
    assert(got.size == kitchenRows.size)
  }

  test("damaged records drop whole; intact neighbors in the same frame " +
    "survive") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(kitchenRows.take(2), 1), kitchenSchema)
    val good = BinaryTopics.encode(df).collect().map(_.getAs[Array[Byte]](0))
    val damaged: Seq[Array[Byte]] = Seq(
      null, // tombstone
      Array.empty[Byte],
      good.head.take(3), // truncated mid-bitmap
      good.head.dropRight(1), // truncated mid-payload
      good.head ++ Array[Byte](1, 2, 3), // trailing garbage
      { val b = good.head.clone(); b(0) = 'X'.toByte; b }, // wrong magic
      { val b = good.head.clone(); b(1) = 99.toByte; b }, // wrong version
      Array.fill[Byte](64)(-1)) // noise
    val mixed = spark.createDataFrame(
      spark.sparkContext.parallelize(
        (good ++ damaged).map(Row(_)).toIndexedSeq, 2),
      BinaryTopics.valueSchema)
    val back = BinaryTopics.decode(mixed, kitchenSchema)
    assert(back.count() == good.length.toLong)
    assert(back.select("id").collect().map(_.getLong(0)).toSet == Set(1L, 2L))
  }

  test("the 64-double embedding record is a fraction of its JSON size") {
    val emb = spark.range(8).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        j.cast("double") / lit(7.0)).as("embedding"))
    val binBytes = BinaryTopics.encode(emb).collect()
      .map(_.getAs[Array[Byte]](0).length.toLong).sum
    val jsonBytes = JsonStreams.encode(emb).collect()
      .map(_.getString(0).getBytes("UTF-8").length.toLong).sum
    assert(binBytes * 2 < jsonBytes,
      s"binary $binBytes B should be < half of JSON $jsonBytes B")
  }

  test("runAnnIngestJob under the binary codec: topic-to-topic codes " +
    "equal the batch assignment") {
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isNew = col("vec_id") % 10 === 0
    val model = Similarity.freezeAnnIndex(all.filter(!isNew)).get

    withTempDir("ann_bin_job") { dir =>
      val work = dir.toString
      val topic = s"$work/emb_topic"
      // produce the topic exactly as a binary producer would, plus junk
      // records the decode must drop
      val goodValues = BinaryTopics.encode(
          all.filter(isNew).select(col("vec_id"),
            transform(col("embedding"), x => x.cast("double")).as("embedding")))
        .collect().map(_.getAs[Array[Byte]](0))
      val junk: Seq[Array[Byte]] = Seq(
        "not a record".getBytes, goodValues.head.dropRight(5))
      spark.createDataFrame(
          spark.sparkContext.parallelize(
            (goodValues ++ junk).map(Row(_)).toIndexedSeq, 2),
          BinaryTopics.valueSchema)
        .write.parquet(topic)

      val q = StreamingCurationJobs.runAnnIngestJob(spark, topic, model, work,
        codec = BinaryTopics)
      try q.processAllAvailable() finally q.stop()

      // schema + row projection derived from the model's m, so the spec
      // keeps covering EVERY code column if the PQ defaults move again
      val m = model.cfg.m
      def codeRow(r: Row) = (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
        (0 until m).map(s => r.getAs[Int](s"code$s")).toList,
        r.getAs[Double]("recon_error"))
      val codesSchema = StructType(
        Seq(StructField("vec_id", LongType), StructField("cell", LongType)) ++
        (0 until m).map(s => StructField(s"code$s", IntegerType)) :+
        StructField("recon_error", DoubleType))
      val got = BinaryTopics.decode(
          spark.read.schema(BinaryTopics.valueSchema).parquet(s"$work/codes"),
          codesSchema)
        .collect().map(codeRow).toSet
      val batch = Similarity.incrementalAssign(all, isNew)
        .collect().map(codeRow).toSet
      assert(batch.nonEmpty)
      assert(got == batch,
        s"only-stream=${got -- batch} only-batch=${batch -- got}")
    }
  }

  /** 60 docs inside one minute (every 7th repeats verbatim, so the dedup
    * drops some) as a docs-topic frame. */
  private def codecDocs = (0L until 60L).map { i =>
      val text =
        if (i % 7 == 0) "dup dup dup this text repeats verbatim " * 4
        else s"document number $i with enough distinct words to pass the " +
          s"gate and some filler content token$i alpha beta gamma delta " +
          "epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi"
      (i, text, "en", s"src-${i % 3}",
        java.sql.Timestamp.valueOf(s"2024-01-01 10:00:${"%02d".format(i % 60)}"))
    }.toDF("doc_id", "text", "lang", "source", "ingest_time")

  /** Lands `docsDf` as a docs topic under `codec`, runs the ingest job
    * over it to completion and returns `read` of the job's work dir,
    * which is deleted afterwards. */
  private def ingestUnder[A](codec: TopicCodec,
                             docsDf: org.apache.spark.sql.DataFrame)
                            (read: String => A): A =
    withTempDir(s"ingest_${codec.name}") { dir =>
      val work = dir.toString
      val topic = s"$work/docs_topic"
      if (codec == BinaryTopics)
        BinaryTopics.encode(docsDf).write.parquet(topic)
      else {
        Files.createDirectories(Paths.get(topic))
        val lines = JsonStreams.encode(docsDf).collect().map(_.getString(0))
        Files.write(Paths.get(s"$topic/part-0.json"),
          String.join("\n", lines: _*).getBytes)
      }
      val q = StreamingCurationJobs.runIngestJob(spark, topic,
        graft.streaming.StreamThroughput.benchDocs(spark), work,
        codec = codec)
      try q.processAllAvailable() finally q.stop()
      read(work)
    }

  test("runIngestJob emits identical curated rows under both codecs") {
    // the curated topic is JSON under either input codec
    def runWith(codec: TopicCodec): Set[Seq[Any]] =
      ingestUnder(codec, codecDocs)(work =>
        spark.read.schema(StreamingCurationJobs.curatedSchema)
          .json(s"$work/curated")
          .collect().map(_.toSeq).toSet)

    val json = runWith(JsonStreams)
    val binary = runWith(BinaryTopics)
    assert(json.nonEmpty)
    assert(json == binary,
      s"only-json=${json -- binary} only-binary=${binary -- json}")
  }

  test("a binary-codec ingest feeds runStatsJob the same token counts as " +
    "a JSON one") {
    // a gate-passing sentinel an hour later advances the stats job's
    // watermark past the corpus minute, so that window closes and emits
    val sentinel = Seq((999999L,
        ("the and for with from" +: (1 to 35).map(i => f"sw$i%03d"))
          .mkString(" "),
        "en", "sentinel",
        java.sql.Timestamp.valueOf("2024-01-01 11:00:00")))
      .toDF("doc_id", "text", "lang", "source", "ingest_time")
    def tokenStats(codec: TopicCodec): Set[String] =
      ingestUnder(codec, codecDocs.union(sentinel)) { work =>
        val q = StreamingCurationJobs.runStatsJob(spark, work,
          windowLength = "1 minute", watermarkDelay = "5 seconds")
        try q.processAllAvailable() finally q.stop()
        spark.read.text(s"$work/token_stats").collect()
          .map(_.getString(0)).toSet
      }

    val json = tokenStats(JsonStreams)
    val binary = tokenStats(BinaryTopics)
    assert(json.nonEmpty)
    assert(json == binary,
      s"only-json=${json -- binary} only-binary=${binary -- json}")
  }
}
