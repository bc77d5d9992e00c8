package graft

import graft.queries.{EventQueries, GraftSql}
import org.apache.spark.sql.DataFrame

/**
 * The SQL entry surface must drive the reference's event pipeline
 * end-to-end through `spark.sql` with results hash-identical to the
 * builder API, and compose with further SQL on top of the views.
 */
class GraftSqlSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def canon(df: DataFrame): Seq[Seq[String]] = {
    val cols = df.columns.sorted.toSeq
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
      .map(r => cols.indices.map(i => String.valueOf(r.get(i))))
      .sortBy(_.mkString("")).toSeq
  }

  test("Q1/Q2/anomaly run through spark.sql with builder-identical results") {
    GraftSql.register(spark, sf,
      Seq("ctr_by_campaign", "engagement_by_device", "anomaly_alerts"))
    val pairs = Seq(
      "ctr_by_campaign" -> EventQueries.ctrByCampaign(spark, sf),
      "engagement_by_device" -> EventQueries.engagementByDevice(spark, sf),
      "anomaly_alerts" -> EventQueries.anomalyAlerts(spark, sf))
    for ((view, builder) <- pairs) {
      val viaSql = canon(spark.sql(s"SELECT * FROM $view"))
      val viaBuilder = canon(builder)
      assert(viaSql.nonEmpty && viaSql == viaBuilder,
        s"$view: SQL surface diverged from the builder API")
    }
  }

  test("the r10 contract family answers pure SQL: report, quarantine, " +
    "and a composed triage query over the views") {
    GraftSql.register(spark, sf,
      Seq("events_contract", "docs_quarantine", "events_contract_monitor"))
    val report = canon(spark.sql("SELECT * FROM events_contract"))
    assert(report ==
      canon(graft.queries.DataPipelineQueries.eventsContract(spark, sf)))
    // compose ad-hoc SQL on top: triage count of quarantined docs per
    // violated check (split on the semicolon list)
    val triage = spark.sql(
      """SELECT v AS check_name, count(*) AS n
        |FROM docs_quarantine
        |LATERAL VIEW explode(split(violations, ';')) t AS v
        |WHERE NOT keep GROUP BY v""".stripMargin).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(triage.nonEmpty && triage.values.forall(_ > 0))
    val monitor = canon(spark.sql("SELECT * FROM events_contract_monitor"))
    assert(monitor ==
      canon(graft.queries.DataPipelineQueries.eventsContractMonitor(spark, sf)))
  }

  test("knob-variant views: the _5m forms answer pure SQL with the " +
    "5-minute builder's exact results and coarser windows than the base") {
    GraftSql.register(spark, sf, Seq("ctr_by_campaign"))
    // the variant IS the builder at the 5-minute knob
    val viaSql = canon(spark.sql("SELECT * FROM ctr_by_campaign_5m"))
    val viaBuilder = canon(graft.pipelines.AdPipelines.ctrByCampaign(
      EventQueries.joined(spark, sf), windowLength = "5 minutes"))
    assert(viaSql.nonEmpty && viaSql == viaBuilder,
      "ctr_by_campaign_5m diverged from the 5-minute builder form")
    // and it really is a different knob: every window spans 300 s, not
    // the base view's 60 (row counts can coincide on a sparse fixture,
    // window width cannot)
    val spans = spark.sql(
      """SELECT DISTINCT unix_timestamp(window_end) - unix_timestamp(window_start)
        |FROM ctr_by_campaign_5m""".stripMargin).collect().map(_.getLong(0)).toSet
    assert(spans == Set(300L), s"expected 300s windows, got $spans")
    // second knob-variant family mounts too
    assert(spark.sql("SELECT count(*) FROM engagement_by_device_5m")
      .head().getLong(0) > 0)
  }

  test("a custom contract declared as SQL data mounts report, " +
    "quarantine, and daily monitor views with user thresholds") {
    GraftSql.register(spark, sf, Seq.empty)
    // the user's thresholds live in a SQL relation — checks as DATA
    spark.sql(
      """CREATE OR REPLACE TEMP VIEW my_checks AS
        |SELECT 'not_null:user_id' AS spec
        |UNION ALL SELECT 'in_range:value:0|80'
        |UNION ALL SELECT 'in_set:event_type:view|click'""".stripMargin)
    GraftSql.registerContract(spark, "my_contract", "events", "my_checks",
      uniqueKeys = Seq(Seq("event_id")), tsCol = Some("ts"))

    // report reconciles with the builder API at the same thresholds
    import graft.contracts.Contracts
    val checks = Seq(
      Contracts.notNull("user_id"),
      Contracts.inRange("value", 0.0, 80.0),
      Contracts.inSet("event_type", Seq("view", "click")))
    val viaSql = canon(spark.sql("SELECT * FROM my_contract"))
    val viaBuilder = canon(Contracts.validate(
      graft.queries.Tables.events(spark, sf), checks, Seq(Seq("event_id"))))
    assert(viaSql.nonEmpty && viaSql == viaBuilder)
    // the user's range threshold (0..80) actually bites — real rows
    // violate it at sf0.001 (value goes to ~327)
    val rangeViol = spark.sql(
      """SELECT n_violations FROM my_contract
        |WHERE constraint = 'in_range(value,0.0,80.0)'""".stripMargin)
      .head().getLong(0)
    assert(rangeViol > 0)
    // quarantine view: per-row verdicts agree with the report count
    val qViol = spark.sql(
      """SELECT count(*) FROM my_contract_quarantine
        |WHERE array_contains(split(violations, ';'),
        |  'in_range(value,0.0,80.0)')""".stripMargin).head().getLong(0)
    assert(qViol == rangeViol)
    // daily monitor mounts and carries the sentinel row total
    val monRows = spark.sql(
      """SELECT sum(n) FROM my_contract_monitor_daily
        |WHERE constraint = '__rows'""".stripMargin).head().getLong(0)
    assert(monRows == spark.sql("SELECT count(*) FROM events").head().getLong(0))
    // malformed and unknown specs are rejected loudly at mount
    spark.sql("CREATE OR REPLACE TEMP VIEW bad_checks AS " +
      "SELECT 'no_such_kind:x' AS spec")
    val ex = intercept[IllegalArgumentException] {
      GraftSql.registerContract(spark, "bad_contract", "events", "bad_checks")
    }
    assert(ex.getMessage.contains("no_such_kind"))
  }

  test("registerLayout mounts the physical layouts for pure SQL: an " +
    "event_date WHERE prunes at file listing and values match the raw " +
    "table; the z-ordered view carries the full table") {
    GraftSql.register(spark, sf, Seq.empty)
    GraftSql.registerLayout(spark, sf)
    val week = spark.sql(
      """SELECT CAST(event_date AS STRING) AS d, event_type,
        |       count(*) AS n
        |FROM events_dated
        |WHERE event_date BETWEEN '2024-01-08' AND '2024-01-14'
        |GROUP BY 1, 2""".stripMargin)
    val raw = spark.sql(
      """SELECT CAST(to_date(ts) AS STRING) AS d, event_type,
        |       count(*) AS n
        |FROM events
        |WHERE to_date(ts) BETWEEN '2024-01-08' AND '2024-01-14'
        |GROUP BY 1, 2""".stripMargin)
    assert(canon(week).nonEmpty && canon(week) == canon(raw))
    // the WHERE pruned at LISTING time: 7 of 30 date directories
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val through = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      p +: through.flatMap(walk)
    }
    week.collect()
    val scan = walk(week.queryExecution.executedPlan)
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    assert(scan.metrics("numFiles").value == 7, scan.metrics("numFiles"))
    // z-ordered view: whole table, _graft_stats manifest not mingled in
    assert(spark.sql("SELECT count(*) FROM events_zordered").head().getLong(0)
      == spark.sql("SELECT count(*) FROM events").head().getLong(0))
    assert(!spark.table("events_zordered").columns.contains("path"))
    // IVF cell view: whole corpus, partition column queryable from SQL
    assert(spark.sql("SELECT count(*) FROM embeddings_cells").head().getLong(0)
      == spark.sql("SELECT count(*) FROM embeddings").head().getLong(0))
    assert(spark.sql(
        "SELECT count(DISTINCT cell) FROM embeddings_cells")
      .head().getLong(0) == 16)
    // documents-by-source view (r12): whole corpus, the source partition
    // column queryable, and a WHERE source filter plans a partition
    // filter (listing-time pruning from pure SQL)
    assert(spark.sql("SELECT count(*) FROM documents_by_source").head().getLong(0)
      == spark.sql("SELECT count(*) FROM documents").head().getLong(0))
    // projection-only query: no exchange, so the scan sits directly in
    // the executed plan (an aggregate's AQE wrapper hides its stages
    // from collectLeaves)
    val docsPruned = spark.sql(
      "SELECT doc_id FROM documents_by_source WHERE source = 'src3'")
    docsPruned.collect()
    val docScan = docsPruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case f: FileSourceScanExec => f }.get
    assert(docScan.partitionFilters.nonEmpty, docScan.toString)
  }

  test("views compose: SQL aggregation over the ctr view, base tables " +
    "and native functions are mounted") {
    GraftSql.register(spark, sf, Seq("ctr_by_campaign"))
    // aggregate ON TOP of the pipeline view — the user's ad-hoc SQL case
    val top = spark.sql("""
      SELECT campaign_id, count(*) AS n_windows, sum(impression_count) AS impr
      FROM ctr_by_campaign GROUP BY campaign_id
      ORDER BY impr DESC, campaign_id LIMIT 5""").collect()
    assert(top.length == 5 && top.head.getLong(2) >= top.last.getLong(2))
    // base tables answer plain SQL
    assert(spark.sql("SELECT count(*) FROM documents").head().getLong(0) > 0)
    // native functions are SQL-callable
    assert(spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d))")
      .head().getDouble(0) == 11.0)
    // unknown names are rejected loudly, not silently skipped
    val ex = intercept[IllegalArgumentException] {
      GraftSql.register(spark, sf, Seq("no_such_query"))
    }
    assert(ex.getMessage.contains("no_such_query"))
  }
}
