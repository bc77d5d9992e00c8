package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * A driver-checkable query: a Spark builder plus (when SQL-expressible) a
 * semantically identical DuckDB oracle over the same parquet tables. The
 * driver hash-compares both results with columns sorted by name, so every
 * computed column is aliased identically on both sides.
 */
final case class NamedQuery(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Tables {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

  /** Read one driver-provided testdata table (TESTDATA.md). */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Memoized base table, spread to size-proportional parallelism: a
    * small single-row-group parquet arrives as ONE scan split, which
    * would otherwise run every narrow phase of every consumer query on
    * one core; the repartition costs one tiny shuffle, the cache build
    * parallelizes, and all registry queries over the table share one
    * scan (what a production pipeline does with a staging table).
    * The partition count derives from the table's on-disk SIZE (one
    * partition per [[SpreadBytes]] of parquet, floored at 4, capped at
    * defaultParallelism — r22, guide §2.2):
    * spreading a kilobyte table to ALL cores made every stage of every
    * consumer dispatch |cores| near-empty tasks, the scaling block's
    * broad 32-core penalty. Persistence follows the same test: ONLY the
    * repartitioned small-input frame is cached — at real scale the scan
    * already yields >= target splits, the repartition short-circuits,
    * and the frame stays uncached so each consumer keeps per-query
    * parquet pushdown/pruning instead of pinning the corpus in executor
    * storage. */
  def spread(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spreadMemo(spark, sfDir, s"$name-spread", tableBytes(sfDir, name),
      table(spark, sfDir, name))

  /** `events` (ts-normalized, see [[events]]) spread the same way. */
  def eventsSpread(spark: SparkSession, sfDir: String): DataFrame =
    spreadMemo(spark, sfDir, "events-spread", tableBytes(sfDir, "events"),
      events(spark, sfDir))

  /** On-disk bytes of one testdata table (file or directory-of-files) —
    * the size the spread target derives from. */
  private def tableBytes(sfDir: String, name: String): Long = {
    val f = new java.io.File(s"$sfDir/$name.parquet")
    if (f.isFile) f.length
    else if (f.isDirectory)
      f.listFiles().iterator.filter(_.isFile).map(_.length).sum
    else 0L
  }

  /** Parquet bytes per spread partition (128 KB). */
  private val SpreadBytes = 131072L

  private def spreadMemo(spark: SparkSession, sfDir: String, tag: String,
                         bytes: Long, d: => DataFrame): DataFrame =
    // the whole decision lives inside the by-name build so the parquet
    // read and the physical-planning probe run once per (session, sfDir,
    // tag), not on every registry call
    SharedFrames.memo(spark, sfDir, tag, persist = false) {
      val frame = d
      val par = spark.sparkContext.defaultParallelism
      val target = math.min(par.toLong,
        math.max(4L, (bytes + SpreadBytes - 1) / SpreadBytes)).toInt
      if (frame.rdd.getNumPartitions < target)
        frame.repartition(target)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else frame
    }

  /**
   * `events` with `ts` normalized to epoch-millisecond precision — the same
   * grain as the reference's BIGINT epoch-ms inputs (flink/flink_job.sql:12,
   * 14). The driver's parquet stores TIMESTAMP(NANOS), which Spark only
   * reads via the legacy nanos-as-long mode; oracle side uses
   * `make_timestamp(epoch_ms(ts)*1000)` for the identical truncation.
   */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = table(spark, sfDir, "events")
    df.schema("ts").dataType match {
      // nanos-as-long: integer-divide (not double-divide — 2024 epoch-ns
      // exceeds double's 53-bit exact range) down to millis.
      case LongType => df.withColumn("ts", timestamp_millis(expr("ts div 1000000")))
      case TimestampType | TimestampNTZType =>
        df.withColumn("ts", date_trunc("millisecond", col("ts")))
      case other => df
    }
  }
}
