package graftbench

import graft.queries.{EventQueries, NamedQuery, SharedFrames}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Batch workloads: passes over registry queries, each query timed on an
  * action that reads every output column. */
object BatchBench {

  /** The module that does a query's work, for the per-module walls. */
  def module(name: String): String = name match {
    case "events_layout_prune" | "events_zorder_box" | "docs_layout_prune" |
         "docs_stats_box" | "similarity_ivf_pruned" => "sources"
    case "media_frames" | "media_features" => "multimodal"
    case "events_pseudonymize" | "pii_scrub" | "events_props" |
         "cms_heavy_hitters" => "privacy"
    case "events_contract" | "events_contract_monitor" | "docs_quarantine" => "contracts"
    case n if EventQueries.all.exists(_.name == n) => "ops"
    case n if n.startsWith("embedding") || n.startsWith("similarity") ||
      n.startsWith("ann_") || n.startsWith("rp_") || n.contains("semantic") ||
      n.startsWith("semdedup") || n.startsWith("knn_") ||
      Set("dedup_embedding", "sample_cluster_balanced",
        "embedding_clusters").contains(n) => "similarity"
    case _ => "text"
  }

  /** Sketch queries, whose output is approximate: checked by row count only.
    * Every other query's fingerprint was identical across passes and runs
    * when it was pinned (`run.py --pin` refuses a query whose passes
    * disagree). */
  val RowCountOnly: Set[String] = Set(
    "ctr_by_campaign_approx", "profile_events_approx",
    "doc_length_quantiles_approx", "cms_heavy_hitters")

  final case class QueryRun(name: String, pass: Int, wallS: Double, buildS: Double,
                            planS: Double, execS: Double, trackerPlanS: Double,
                            memoBuilds: Int, rows: Long, fp: String,
                            error: Option[String], exec: Map[String, Double],
                            codegen: Map[String, Double], stealS: Double) {
    def json: String = Json(Map(
      "name" -> name, "module" -> module(name), "pass" -> pass, "wall_s" -> wallS,
      "build_s" -> buildS, "plan_s" -> planS, "exec_s" -> execS,
      "tracker_plan_s" -> trackerPlanS, "memo_builds" -> memoBuilds,
      "rows" -> rows, "fp" -> fp, "error" -> error, "exec" -> exec,
      "codegen" -> codegen, "steal_s" -> stealS))
  }

  /** Order-independent fingerprint columns over every output column:
    * doubles round to 6 decimal places, maps become sorted entry arrays,
    * and the per-row xxhash64 is summed in two 32-bit halves. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(et, _) => if (hasFloat(et)) transform(c, x => canon(x, et)) else c
    case st: StructType if hasFloat(st) =>
      when(c.isNotNull, struct(st.fields.toIndexedSeq.map(f =>
        canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      val entries = array_sort(map_entries(c))
      if (!hasFloat(kt) && !hasFloat(vt)) entries
      else transform(entries, e => struct(canon(e.getField("key"), kt).as("key"),
        canon(e.getField("value"), vt).as("value")))
    case _ => c
  }

  private def hasFloat(dt: DataType): Boolean = dt match {
    case DoubleType | FloatType => true
    case ArrayType(et, _) => hasFloat(et)
    case st: StructType => st.fields.exists(f => hasFloat(f.dataType))
    case MapType(k, v, _) => hasFloat(k) || hasFloat(v)
    case _ => false
  }

  def fingerprintFrame(df: DataFrame): DataFrame = {
    val h = xxhash64(df.schema.fields.toIndexedSeq.map(f =>
      canon(col(s"`${f.name}`"), f.dataType)): _*)
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  /** Run one query: build span (the registry's query function), plan span
    * (fingerprint frame + physical planning) and execute span (collect). */
  def runQuery(spark: SparkSession, q: NamedQuery, dir: String, pass: Int,
               counters: Option[ExecCounters]): QueryRun = {
    val before = counters.map { c => ExecCounters.sync(spark); c.snapshot }
    val cgBefore = CodegenLog.snapshot
    val steal0 = Proc.stealS
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var tracker = 0.0
    var rows = -1L
    var fp = ""
    val (err, built) = SharedFrames.tracedBuilds {
      try {
        val df = q.fn(spark, dir)
        t1 = System.nanoTime()
        val agg = fingerprintFrame(df)
        agg.queryExecution.executedPlan
        t2 = System.nanoTime()
        val r = agg.collect()(0)
        rows = r.getLong(0)
        fp = s"${r.getLong(1)}:${r.getLong(2)}"
        tracker = agg.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
        None
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = System.nanoTime()
          if (t2 == t0) t2 = t1
          Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }
    val t3 = System.nanoTime()
    val stealS = Proc.stealS - steal0
    val exec = counters.map { c =>
      ExecCounters.sync(spark); ExecCounters.diff(c.snapshot, before.get)
    }.getOrElse(Map.empty)
    QueryRun(q.name, pass, (t3 - t0) / 1e9, (t1 - t0) / 1e9, (t2 - t1) / 1e9,
      (t3 - t2) / 1e9, tracker, built.size, rows, fp, err, exec,
      ExecCounters.diff(CodegenLog.snapshot, cgBefore), stealS)
  }

  /** Drop every memo and cached frame so the next pass starts cold. */
  def coldStart(spark: SparkSession): Unit = {
    SharedFrames.clear(spark)
    spark.catalog.clearCache()
  }

  /** Provision the date-partitioned events layout that
    * `events_layout_prune` prunes. */
  def provisionLayouts(spark: SparkSession, dir: String): Unit =
    graft.sources.TableLayout.eventsDatePartitioned(spark, dir).queryExecution.executedPlan
}
