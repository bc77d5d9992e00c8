package graftbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, one seed, one result file.
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --work <dir> --out <file>
  * }}}
  *
  * Everything it writes lands under `--work` (data, layouts, topics,
  * checkpoints, Spark scratch) except the raw result JSON at `--out`,
  * which `run.py` turns into metrics. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("work"), m("out"))
  }

  val cores: Int = Runtime.getRuntime.availableProcessors

  /** The session the benchmark drives: the engine's bench configuration at
    * local[cores], with every scratch path under `work`. */
  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Seconds since this JVM started. */
  def sinceJvmStartS: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val out = args.workload match {
      case "batch" => Batch.run(args)
      case "ingest_stream" => IngestStream.run(args)
      case w => throw new IllegalArgumentException(s"unknown workload '$w'")
    }
    val w = new java.io.PrintWriter(args.out, "UTF-8")
    try w.println(out) finally w.close()
  }
}
