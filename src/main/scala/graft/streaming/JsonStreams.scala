package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Kafka-envelope JSON sources and sinks (SURVEY §2.1 S1-S4, S7-S9).
 *
 * The reference declares its tables over Kafka topics with
 * `'format' = 'json'` and `'json.ignore-parse-errors' = 'true'`
 * (flink/flink_job.sql:5-24,26-41,44-71; flink/anomaly_job.sql:8-28,31-43).
 * A Kafka record reaches Spark as a `value: binary` column; this object
 * implements the decode/encode halves independently of the transport so the
 * same code serves `spark.readStream.format("kafka")` (when the connector
 * jar is on the classpath), a file-backed topic directory (used by the
 * tests and local runners — this container has no Kafka), or a
 * `MemoryStream[String]` renamed to `value`. The file-backed topics hold
 * one JSON record per text line; as a [[TopicCodec]] this is every job's
 * default wire format.
 */
object JsonStreams extends TopicCodec {

  val name: String = "json"

  protected val format: String = "text"

  val valueSchema: StructType = StructType(Seq(StructField("value", StringType)))

  /**
   * S4: decode a Kafka-shaped frame (`value` string/binary) into typed rows.
   *
   * Parse-error skip, matching Flink's `json.ignore-parse-errors` class by
   * class:
   *  - NULL values (Kafka tombstones) → dropped;
   *  - unparseable lines → dropped;
   *  - valid JSON with missing fields → kept, missing fields NULL;
   *  - valid JSON with a wrong-typed field → kept, only that field NULL
   *    (Flink nulls the bad field; Spark's PERMISSIVE `from_json` corrupts
   *    the whole row, so corrupt rows are salvaged per-field via
   *    `get_json_object` + cast, which nulls only what doesn't convert).
   *
   * The corrupt-record column distinguishes "malformed" from "valid but
   * all fields NULL" ({} survives, garbage doesn't); `get_json_object
   * (value, '$')` distinguishes salvageable valid-JSON rows from truly
   * unparseable ones.
   */
  def decode(raw: DataFrame, schema: StructType): DataFrame = {
    val corrupt = "__corrupt_record"
    val withCorrupt = StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField(
        corrupt, org.apache.spark.sql.types.StringType))
    val parsed = raw
      .filter(col("value").isNotNull)
      .select(col("value").cast("string").as("__v"))
      .withColumn("e", from_json(col("__v"), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt)))
    val clean = col("e").getField(corrupt).isNull
    parsed
      .filter(clean || get_json_object(col("__v"), "$").isNotNull)
      .select(schema.fields.map { f =>
        val fragment = get_json_object(col("__v"), s"$$.${f.name}")
        val salvaged = f.dataType match {
          // complex types can't try_cast from a string; re-parse the
          // extracted fragment (from_json nulls out what doesn't parse —
          // the same field-level tolerance as the atomic branch)
          case t @ (_: org.apache.spark.sql.types.ArrayType |
                    _: org.apache.spark.sql.types.MapType |
                    _: org.apache.spark.sql.types.StructType) =>
            from_json(fragment, t)
          // try_cast: an unconvertible field nulls out instead of failing
          // the query under ANSI mode — that IS the Flink behavior
          case t => fragment.try_cast(t)
        }
        when(clean, col("e").getField(f.name)).otherwise(salvaged).as(f.name)
      }.toIndexedSeq: _*)
  }

  /**
   * S7-S9: encode all columns into a single JSON `value` column — the shape
   * every reference sink writes (`flink/flink_job.sql:44-71`,
   * `flink/anomaly_job.sql:31-43`). No `key` column ⇒ round-robin
   * partitioning, matching `'sink.partitioner' = 'round-robin'`
   * (flink/flink_job.sql:56).
   */
  def encode(df: DataFrame): DataFrame =
    df.select(to_json(struct(df.columns.map(col).toIndexedSeq: _*)).as("value"))

  /**
   * Structured file-backed topic sink: `df`'s columns written as JSON
   * lines (the `json` format, not an [[encode]]d `value`), appended with
   * a checkpoint. Returns the started query; caller awaits/stops it.
   */
  override def writeTopic(df: DataFrame, dir: String,
                          checkpoint: String): StreamingQuery =
    StateBackend.start(df.sparkSession, df.writeStream
      .format("json")
      .option("path", dir)
      .option("checkpointLocation", checkpoint)
      .outputMode("append"), dir, checkpoint)

  /** File-backed topic source with the declared (not inferred) schema. */
  def readTopic(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).json(dir)
}
