package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every graft main runs under — the
  * config `Bench` times is the config `Verify` checks and `Explain`
  * prints. A main that needs more (FAIR scheduling, AQE off for a
  * static-plan audit) adds it at its own call site. */
object GraftSession {
  /** Let AQE coalesce shuffles that feed cached plans: the session
    * memos persist shuffle outputs, and with the upstream default
    * (false) every cached frame pins its full shuffle-partition fan-out,
    * so downstream stages launch |partitions| tasks to read kilobyte
    * caches. Coalescing is size-based, so this is scale-adaptive. */
  private val CacheAqe = "true"

  /** AQE coalesce floor for SMALL shuffles: the target is
    * max(min(total/minPartitionNum, advisory), minPartitionSize), so for
    * sub-MB shuffles the 1 MB default merges every cached frame to ONE
    * partition and serializes its consumers. 256k re-parallelizes the
    * shuffles big enough to matter locally; at scale the target is the
    * 64 MB advisory size either way. */
  private val CoalesceMinSize = "256k"

  /** Let file SIZE alone decide scan splits: the upstream default floors
    * scan parallelism at defaultParallelism, fanning a kilobyte table
    * into |cores| near-empty tasks. Large tables split by
    * maxPartitionBytes (128 MB) regardless. */
  private val MinScanParts = "1"

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet is TIMESTAMP(NANOS); set at build time so no query
    // mutates session state mid-run
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", CacheAqe)
    .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", CoalesceMinSize)
    .config("spark.sql.files.minPartitionNum", MinScanParts)

  /** `SPARK_GRAFT_CPUS`, or `default` when unset. */
  def cpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)
}
