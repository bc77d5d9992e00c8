package graftbench

import java.sql.Timestamp

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic input tables in the shape of the engine's `events`,
  * `documents` and `embeddings` tables: the same seed and sizes always
  * write the same rows. They are generated in the benchmark process with a
  * seeded RNG and written as one parquet file per table, so no
  * partitioning choice can change their content. */
object Inputs {

  final case class Sizes(events: Int, docs: Int, vectors: Int)

  val EventTypes: Array[String] = Array("click", "purchase", "error", "signup", "view")
  /** The 31-word vocabulary of the engine's sample `documents` table. */
  val Vocab: Array[String] = ("a agg batch big column customer data dup fast " +
    "filter group hash join key line merge order part query row scan slow " +
    "small sort spark stream table the value vector window").split(" ")
  private val Langs = Array("en", "en", "en", "en", "fr", "fr", "es", "es", "zh", "de")
  val Dim = 64
  val Labels = 10

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))
  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Event rows over January 2024, sorted by time. */
  def events(n: Int, seed: Long): Seq[Row] = {
    val r = new scala.util.Random(seed)
    val start = Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val spanMicros = 30L * 86400L * 1000000L
    val ts = Array.fill(n)((r.nextDouble() * spanMicros).toLong).sorted
    val users = math.max(15, n / 66)
    ts.indices.map { i =>
      val t = new Timestamp((start + ts(i)) / 1000L)
      t.setNanos(((start + ts(i)) % 1000000L).toInt * 1000)
      Row(i.toLong, t, r.nextInt(users).toLong, EventTypes(r.nextInt(5)),
        math.round(-math.log(1.0 - r.nextDouble()) * 10000.0) / 100.0,
        s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  /** Documents of 8–95 vocabulary words; 1% are repeated once, as the
    * reference corpus repeats about 1% of its texts. The seed shuffles which
    * words each document holds, but every seed gives every vocabulary word
    * the same corpus-wide count, and the documents the same lengths: BPE
    * training learns its merges from those counts alone, so every input
    * variant trains the same merges and costs the same to encode. */
  def documents(n: Int, seed: Long): Seq[Row] = {
    val r = new scala.util.Random(seed)
    val repeated = n / 100
    val repeatedWords = 40
    // each multiset of words is fixed; only its order depends on the seed
    def deal(lengths: Seq[Int]): Seq[String] = {
      val words = r.shuffle(Seq.tabulate(lengths.sum)(i => Vocab(i % Vocab.length)))
      val ends = lengths.scanLeft(0)(_ + _)
      lengths.indices.map(i => words.slice(ends(i), ends(i + 1)).mkString(" "))
    }
    val once = deal(r.shuffle(Seq.tabulate(n - 2 * repeated)(i => 8 + (i * 37) % 88)))
    val twice = deal(Seq.fill(repeated)(repeatedWords))
    val texts = r.shuffle(once ++ twice ++ twice)
    texts.indices.map { i =>
      Row(i.toLong, texts(i), Langs(r.nextInt(Langs.length)), s"src${i % 20}",
        texts(i).length.toLong)
    }
  }

  /** Unit vectors scattered around one of ten label centroids. */
  def vectors(n: Int, seed: Long): Seq[Row] = {
    val r = new scala.util.Random(seed)
    val centroids = Array.fill(Labels, Dim)(r.nextGaussian())
    (0 until n).map { i =>
      val label = r.nextInt(Labels)
      val v = Array.tabulate(Dim)(d => centroids(label)(d) + 0.8 * r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
  }

  /** Write the three tables under `dir` as `<name>.parquet`. */
  def write(spark: SparkSession, dir: String, sizes: Sizes, seed: Long): Unit = {
    def save(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save(events(sizes.events, seed), eventSchema, "events")
    save(documents(sizes.docs, seed + 1), docSchema, "documents")
    save(vectors(sizes.vectors, seed + 2), vecSchema, "embeddings")
  }
}
