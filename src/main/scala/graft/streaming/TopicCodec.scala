package graft.streaming

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/**
 * The wire format of a file-backed topic: how a record becomes the Kafka
 * `value` and back, and how those values rest in the topic's files.
 * [[JsonStreams]] (JSON text lines, the reference's format and every
 * job's default) and [[BinaryTopics]] (fixed-width records in parquet,
 * the measured-throughput path) are the two codecs. A job takes a codec
 * object, never a codec name, so no job forks on the format: the codec
 * moves the wire format only, and topics, checkpoints and operators stay
 * the same under either.
 */
trait TopicCodec {

  /** The codec's name; measured steps carry it in theirs. */
  def name: String

  /** Data source format of the topic's files. */
  protected def format: String

  /** The Kafka value shape the topic's files hold. */
  def valueSchema: StructType

  /** Encode all columns into one `value` column. */
  def encode(df: DataFrame): DataFrame

  /** Decode a Kafka-shaped frame (`value`) into typed rows with the
    * declared `schema`. Damaged records drop; they never fail the query. */
  def decode(raw: DataFrame, schema: StructType): DataFrame

  /** Stream `topic`'s records, decoded with `schema`. Admission is by
    * bytes: at most `spark.sql.files.maxPartitionBytes` ×
    * `defaultParallelism` per microbatch, one file split per core, so a
    * job that fell behind drains its backlog in the next microbatch and
    * pays the fixed per-batch cost (listing, planning, sink commit) once
    * per backlog instead of once per handful of files. */
  def readStream(spark: SparkSession, topic: String,
                 schema: StructType): DataFrame = {
    val splitBytes = JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes"))
    decode(spark.readStream
      .option("maxBytesPerTrigger", splitBytes * spark.sparkContext.defaultParallelism)
      .schema(valueSchema).format(format).load(topic), schema)
  }

  /** The records landed on `topic` so far, decoded with `schema`. */
  def read(spark: SparkSession, topic: String, schema: StructType): DataFrame =
    decode(spark.read.schema(valueSchema).format(format).load(topic), schema)

  /**
   * File-backed topic sink for an [[encode]]d single-`value` frame:
   * append mode with a checkpoint (T6, the analogue of the reference's
   * RocksDB checkpoint volume, docker-compose.yml:76-78; Spark persists
   * source offsets and operator state under `checkpoint` and recovers
   * exactly-once on restart). Returns the started query.
   */
  def writeValueTopic(value: DataFrame, dir: String,
                      checkpoint: String): StreamingQuery =
    StateBackend.start(value.sparkSession, value.writeStream
      .format(format)
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"), dir, checkpoint)

  /** Encode and sink in one call. */
  def writeTopic(df: DataFrame, dir: String, checkpoint: String): StreamingQuery =
    writeValueTopic(encode(df), dir, checkpoint)
}
