package graftbench

import graft.queries.{DataPipelineQueries, EventQueries, NamedQuery}
import org.apache.spark.sql.SparkSession

/** The batch workload: set up (session, inputs and layout, one warm pass),
  * then time cold-memo passes over the ad and corpus queries until the run's
  * seconds are spent. */
object Batch {

  /** The run's seed picks one of `DataVariants` fixed input sets, so that
    * every query's output can be pinned per variant (pins.json). */
  val DataVariants = 4
  def dataVariant(seed: Long): Int = java.lang.Math.floorMod(seed, DataVariants.toLong).toInt
  val Sizes = Inputs.Sizes(events = 2000, docs = 500, vectors = 500)

  def registry: Seq[NamedQuery] = EventQueries.all ++ DataPipelineQueries.all

  /** A fixed slice of each registry family, small enough that a run's
    * set-up (which compiles every query once) and several cold-memo passes
    * fit its budget. Ad queries: the paper's main job (ctr, engagement over
    * the shared join), its anomaly job, sessionization and a layout-pruned
    * read. Corpus queries: one or more of every corpus module, with the BPE
    * and PQ families in it (the documents layout reader is left out: it
    * would add that layout's provisioning to every run's set-up). */
  val AdQueries: Seq[String] = Seq("ctr_by_campaign", "engagement_by_device",
    "anomaly_alerts", "user_sessions", "events_layout_prune")
  val CorpusQueries: Seq[String] = Seq("quality_gate", "bpe_encode",
    "embedding_pq", "similarity_topk", "media_features", "pii_scrub",
    "docs_quarantine")

  /** The queries of one pass, ad queries first. */
  def queries: Seq[NamedQuery] = {
    val byName = registry.map(q => q.name -> q).toMap
    (AdQueries ++ CorpusQueries).map(byName)
  }

  private def warmPass(spark: SparkSession, qs: Seq[NamedQuery], dir: String,
                       counters: Option[ExecCounters]): Seq[BatchBench.QueryRun] = {
    val runs = qs.map(q => BatchBench.runQuery(spark, q, dir, -1, counters))
    BatchBench.coldStart(spark)
    runs
  }

  def run(a: Main.Args): String = {
    val qs = queries
    val spark = Main.session(a.work)
    val counters = if (a.trace) Some(ExecCounters.attach(spark)) else None
    if (a.trace) CodegenLog.attach()
    val sessionS = Main.sinceJvmStartS
    val dir = s"${a.work}/data"
    val t0 = System.nanoTime()
    val variant = dataVariant(a.seed)
    Inputs.write(spark, dir, Sizes, 42L + variant)
    BatchBench.provisionLayouts(spark, dir)
    val layoutS = Proc.secondsSince(t0)
    val t1 = System.nanoTime()
    // one warm pass compiles every query; the JIT keeps improving over the
    // timed passes, so the metrics take each query's median over them
    val warm = warmPass(spark, qs, dir, counters)
    val warmS = Proc.secondsSince(t1)
    val setup = Map("session_s" -> sessionS, "layout_s" -> layoutS, "warm_s" -> warmS,
      "total_s" -> Main.sinceJvmStartS)

    // timed passes in a fixed order, each with every memo cold: at least
    // two, and as many as start within the run's seconds
    val m0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    while (passes.size < 2 || Proc.secondsSince(m0) < a.seconds) {
      val p0 = System.nanoTime()
      val runs = qs.map(q =>
        BatchBench.runQuery(spark, q, dir, passes.size, counters))
      passes += Map("wall_s" -> Proc.secondsSince(p0), "queries" -> runs.map(r => Json.Raw(r.json)))
      BatchBench.coldStart(spark)
    }
    spark.stop()
    val inputRows = Sizes.events + Sizes.docs + Sizes.vectors
    Json(Map("workload" -> a.workload, "setup" -> setup, "peak_rss_mb" -> Proc.peakRssMb,
      "input_rows" -> inputRows, "variant" -> variant,
      "row_count_only" -> BatchBench.RowCountOnly.toSeq.sorted,
      "warm" -> warm.map(r => Json.Raw(r.json)),
      "passes" -> passes))
  }
}
