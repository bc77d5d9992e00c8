package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnShim, RecordBinaryToStruct, StructToRecordBinary}
import org.apache.spark.sql.types.{BinaryType, StructField, StructType}

/**
 * Binary-codec topic transport — the compact twin of [[JsonStreams]]
 * (which stays the default; the reference's topics are JSON,
 * flink/flink_job.sql:5-24). Round 10's measured streaming ceilings were
 * ENCODE/DECODE walls, not operator walls: the ANN ingest sustained
 * ~5 000 vectors/s decode-dominated and the doc feeder capped at
 * ~17 600 docs/s, both spent serializing/parsing JSON text (a 64-double
 * embedding row is ~1.4 KB of JSON and one Jackson parse; its
 * [[org.apache.spark.sql.graftshim.RecordCodec]] form is ~530 fixed-width
 * bytes and a ByteBuffer walk). Swapping the codec moves the wire format
 * ONLY — same topics, same checkpoints, same operators, same tolerance
 * class (a structurally damaged record drops whole, the Kafka
 * deserializer behavior); batch-parity and corrupt-record specs run on
 * both codecs in StreamingCurationJobsSpec.
 *
 * Transport container: a Kafka record's `value` is bytes, so on real
 * Kafka the encoded record goes straight into the message. The
 * file-backed topics used here need an at-rest container for binary
 * rows; `parquet` (one `value BINARY` column per record) is the
 * splittable choice — unlike the JSON topics' `text` lines, which cannot
 * carry raw bytes at all. The parquet page layer adds its own cheap
 * (vectorized) decode, which the measured step absorbs — the comparison
 * BinaryTopics wins is end-to-end as deployed.
 */
object BinaryTopics {

  /** The Kafka value shape a binary topic reader yields. */
  val valueSchema: StructType =
    StructType(Seq(StructField("value", BinaryType)))

  /** Encode all columns into a single binary `value` column — the
    * codec twin of [[JsonStreams.encode]]. */
  def encode(df: DataFrame): DataFrame = {
    val s = ColumnShim.expression(
      struct(df.columns.map(col).toIndexedSeq: _*))
    df.select(ColumnShim.column(StructToRecordBinary(s)).as("value"))
  }

  /** Decode a Kafka-shaped frame (`value` binary) into typed rows with
    * the declared schema; NULL values (tombstones) and structurally
    * damaged records drop — the codec twin of [[JsonStreams.decode]]'s
    * parse-error skip. */
  def decode(raw: DataFrame, schema: StructType): DataFrame = {
    val rec: Column = ColumnShim.column(RecordBinaryToStruct(
      ColumnShim.expression(col("value").cast("binary")), schema))
    raw.filter(col("value").isNotNull)
      .select(rec.as("r"))
      .filter(col("r").isNotNull)
      .select(schema.fieldNames.map(f => col(s"r.$f").as(f)).toIndexedSeq: _*)
  }

  /** File-backed binary topic sink for an [[encode]]d single-`value`
    * frame: parquet container, append mode, checkpointed — the codec
    * twin of [[JsonStreams.writeValueTopic]]. */
  def writeValueTopic(value: DataFrame, dir: String, checkpoint: String,
                      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = value.writeStream
      .format("parquet")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
    trigger.foreach(w.trigger)
    StateBackend.start(value.sparkSession, w, dir, checkpoint)
  }

  /** Encode + sink in one call — the codec twin of
    * [[JsonStreams.writeTopic]]. */
  def writeTopic(df: DataFrame, dir: String, checkpoint: String,
                 trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery =
    writeValueTopic(encode(df), dir, checkpoint, trigger)
}
