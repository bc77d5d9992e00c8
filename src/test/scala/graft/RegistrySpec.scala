package graft

import graft.queries.Tables
import org.apache.spark.sql.functions._

/** Contract guards for the driver-facing registry and the raw scan path. */
class RegistrySpec extends SparkSpec {

  /** The declared bench-only rows: approx/sketch escape hatches whose
    * values are engine-specific (HLL++, Greenwald-Khanna) so a value
    * oracle cannot exist — each registered row is gated against its
    * exact twin at sf0.01 below instead. Anything NOT on this list must
    * have an oracle. */
  private val benchOnly = Set(
    "ctr_by_campaign_approx", "profile_events_approx",
    "doc_length_quantiles_approx")

  test("every registered query has an oracle (bench-only sketch rows " +
    "whitelisted, each with a spec-pinned exact twin)") {
    // since r7 even similarity_ivf is oracle-checked (deterministic
    // hash-sampled centroids); a new oracle-less query downgrades the
    // driver gate to rows-only silently — fail here instead
    val noOracle =
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- benchOnly
    assert(noOracle.isEmpty, s"oracle-less queries: $noOracle")
    // the whitelist must stay honest: every bench-only row exists and
    // its exact twin IS oracle-checked
    assert(benchOnly.subsetOf(SparkEntry.queries.keySet))
    Seq("ctr_by_campaign", "profile_events", "doc_length_quantiles")
      .foreach(t => assert(SparkEntry.oracleSql.contains(t), s"exact twin $t"))
  }

  test("bench-only sketch rows stay within their sketch's stated bound " +
    "of their exact twin at sf0.01") {
    import org.apache.spark.sql.Row
    val dir = "/root/testdata/sf0.01"
    def run(name: String): Array[Row] =
      SparkEntry.queries(name)(spark, dir).collect()
    // HLL++ states a relative standard deviation (rsd); a distinct count
    // must land within 3 of them of the exact count
    def withinRsd(approx: Long, exact: Long, rsd: Double): Boolean =
      math.abs(approx - exact) <= 3.0 * rsd * exact

    // ctr_by_campaign_approx: HLL++ at rsd 0.01 (ctrAggApprox's default)
    // on both counts; ctr is the guarded ratio of its own estimates
    def byWindow(rows: Array[Row]) = rows.map(r =>
      (r.getAs[java.sql.Timestamp]("window_start"),
        r.getAs[String]("campaign_id")) -> r).toMap
    val ctrExact = byWindow(run("ctr_by_campaign"))
    val ctrApprox = byWindow(run("ctr_by_campaign_approx"))
    assert(ctrExact.nonEmpty && ctrApprox.keySet == ctrExact.keySet)
    for ((k, a) <- ctrApprox) {
      for (c <- Seq("impression_count", "click_count"))
        assert(withinRsd(a.getAs[Long](c), ctrExact(k).getAs[Long](c), 0.01),
          s"ctr $k $c: approx ${a.getAs[Long](c)} vs exact " +
            s"${ctrExact(k).getAs[Long](c)}")
      val (ai, ac) = (a.getAs[Long]("impression_count"),
        a.getAs[Long]("click_count"))
      assert(a.getAs[Double]("ctr") == (if (ai > 0) ac.toDouble / ai else 0.0),
        s"ctr $k: ${a.getAs[Double]("ctr")} is not $ac/$ai")
    }

    // profile_events_approx: row and null counts exact, distinct counts
    // HLL++ at Spark's default rsd 0.05
    def byColumn(rows: Array[Row]) =
      rows.map(r => r.getAs[String]("column") -> r).toMap
    val profExact = byColumn(run("profile_events"))
    val profApprox = byColumn(run("profile_events_approx"))
    assert(profExact.nonEmpty && profApprox.keySet == profExact.keySet)
    for ((c, a) <- profApprox; e = profExact(c)) {
      assert(a.getAs[Long]("n_rows") == e.getAs[Long]("n_rows"), c)
      assert(a.getAs[Long]("n_nulls") == e.getAs[Long]("n_nulls"), c)
      assert(withinRsd(a.getAs[Long]("n_distinct"),
        e.getAs[Long]("n_distinct"), 0.05),
        s"profile $c: approx ${a.getAs[Long]("n_distinct")} distinct vs " +
          s"exact ${e.getAs[Long]("n_distinct")}")
    }

    // doc_length_quantiles_approx: n_rows and mean exact; each quantile
    // is a sample whose rank lies within percentile_approx's rank error
    // (n / accuracy, accuracy 10000 as Profile.quantiles states, plus one
    // for rank rounding) of p·n in its group's true order
    def bySource(rows: Array[Row]) =
      rows.map(r => r.getAs[String]("source") -> r).toMap
    val qExact = bySource(run("doc_length_quantiles"))
    val qApprox = bySource(run("doc_length_quantiles_approx"))
    assert(qExact.nonEmpty && qApprox.keySet == qExact.keySet)
    val lengths = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "n_chars").collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(_.getAs[Number]("n_chars").doubleValue).toIndexedSeq)
      .toMap
    for ((g, a) <- qApprox) {
      assert(a.getAs[Long]("n_rows") == qExact(g).getAs[Long]("n_rows"), g)
      assert(a.getAs[Double]("mean") == qExact(g).getAs[Double]("mean"), g)
      val vs = lengths(g)
      val n = vs.size
      for ((c, p) <- Seq("p10" -> 0.1, "p25" -> 0.25, "p50" -> 0.5,
        "p75" -> 0.75, "p90" -> 0.9, "p99" -> 0.99)) {
        val av = a.getAs[Double](c)
        val (lo, hi) = (vs.count(_ < av), vs.count(_ <= av))
        val slack = 1.0 + n / 10000.0
        assert(hi > lo && p * n >= lo - slack && p * n <= hi + slack,
          s"quantile $g $c: approx $av occupies ranks ($lo, $hi] of $n")
      }
    }
  }

  test("oracle SQL references only tables the driver provides") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    // FROM/JOIN targets that are not CTE names must be driver tables
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      // the optional (col, ...) group admits recursive-CTE headers like
      // `WITH RECURSIVE st(t, chosen, mind) AS (` (r14 D² seeding)
      val ctes = "(?i)([a-z_0-9]+)\\s*(?:\\([a-z_0-9, ]*\\))?\\s+AS\\s*\\(".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val targets = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z_0-9]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = targets -- ctes -- tables
      assert(unknown.isEmpty, s"$name references unknown tables: $unknown")
    }
  }

  test("builders that persist internal frames are memoized per (session, sfDir)") {
    // repeated invocation — the bench warmup + timed reps — must return
    // the SAME frame so the internal LSH/band caches are built once, not
    // stacked per call (round-5 advice: persist leak)
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("dedup_minhash", "text_simhash_pairs", "dedup_embedding",
      "similarity_ann", "dedup_clusters", "doc_logprob", "doc_logprob_bigram",
      "embedding_clusters")) {
      val fn = SparkEntry.queries(name)
      assert(fn(spark, dir) eq fn(spark, dir),
        s"$name rebuilds its frame (and its internal persists) per call")
    }
  }

  test("a slow memo build does not block other SharedFrames keys") {
    // round-6 fix: the global monitor guards only the map; builds run in
    // per-key cells. Deterministic via latches — thread A parks inside
    // its builder, the main thread must still memo a different key.
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import graft.queries.SharedFrames
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = new Thread(() =>
      SharedFrames.memo(spark, "/tmp/does-not-matter", "slow-key",
        persist = false) {
        entered.countDown()
        release.await(30, TimeUnit.SECONDS)
        spark.range(1).toDF()
      })
    slow.start()
    try {
      assert(entered.await(30, TimeUnit.SECONDS), "slow build never started")
      // must return while the slow build is still parked
      val fast = SharedFrames.memo(spark, "/tmp/does-not-matter", "fast-key",
        persist = false)(spark.range(2).toDF())
      assert(fast.count() == 2)
    } finally {
      release.countDown()
      slow.join(30000)
    }
  }

  test("similarity_ann fails loudly when the corpus dim drifts from the oracle's") {
    import graft.similarity.Similarity
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val narrow = Seq((0L, Array(1f, 2f), 0), (1L, Array(3f, 4f), 0))
      .toDF("vec_id", "embedding", "label")
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTopK(narrow, nQueries = 1, k = 1, expectedDim = Some(64))
        .collect()
    }
    assert(e.getMessage.contains("regenerate"),
      s"dim-drift error should point at the oracle: ${e.getMessage}")
  }

  test("traced/release retire a memo, its aux caches, and nothing else") {
    // the Bench lifecycle contract: warmup traces each query's tag
    // footprint; after a tag's last consumer the memo AND the internal
    // frames its builder aux-registered are unpersisted, while memos of
    // still-live tags (nested or not) keep their caches
    import graft.queries.SharedFrames
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.storage.StorageLevel
    val dir = "/tmp/lifecycle-test"
    var builds = 0
    var outerAux: DataFrame = null
    var innerAux: DataFrame = null
    def demand(): DataFrame =
      SharedFrames.memo(spark, dir, "life-outer", persist = false) {
        builds += 1
        val inner = SharedFrames.memo(spark, dir, "life-inner") {
          innerAux = SharedFrames.aux(spark.range(20).toDF("y"))
          innerAux.select(col("y").as("id"))
        }
        outerAux = SharedFrames.aux(spark.range(10).toDF("id"))
        inner.join(outerAux, "id")
      }
    val (n, tags) = SharedFrames.traced(demand().count())
    assert(n == 10L)
    assert(tags == Set("life-outer", "life-inner"), s"traced saw $tags")
    assert(outerAux.storageLevel != StorageLevel.NONE, "outer aux not persisted")
    assert(innerAux.storageLevel != StorageLevel.NONE, "inner aux not persisted")
    // releasing the outer memo frees ITS aux cache only — the inner
    // memo (a shared family frame other queries may still consume) and
    // the aux registered during the inner build stay cached
    SharedFrames.release(spark, dir, Set("life-outer"))
    assert(outerAux.storageLevel == StorageLevel.NONE, "outer aux survived release")
    assert(innerAux.storageLevel != StorageLevel.NONE,
      "inner memo's aux freed by the OUTER release")
    // a fresh demand rebuilds the outer cell but memo-hits the inner one
    demand()
    assert(builds == 2, s"outer cell did not rebuild after release ($builds)")
    SharedFrames.release(spark, dir, Set("life-inner", "life-outer"))
    assert(innerAux.storageLevel == StorageLevel.NONE,
      "inner aux survived its own release")
  }

  test("tracedBuilds records only tags whose cell was BUILT inside the " +
    "wall — cache hits record nothing (the bench outlier adjudicator)") {
    import graft.queries.SharedFrames
    val dir = "/tmp/builds-test"
    def demand() = SharedFrames.memo(spark, dir, "bt-frame", persist = false) {
      val v = SharedFrames.memoValue(spark, dir, "bt-value") {
        java.lang.Long.valueOf(7L)
      }
      spark.range(v.longValue()).toDF("id")
    }
    val (n1, built1) = SharedFrames.tracedBuilds(demand().count())
    assert(n1 == 7L)
    assert(built1 == Set("bt-frame", "bt-value"),
      s"first consumer must own both builds, saw $built1")
    val (n2, built2) = SharedFrames.tracedBuilds(demand().count())
    assert(n2 == 7L && built2.isEmpty,
      s"cache hit attributed a build: $built2")
    SharedFrames.release(spark, dir, Set("bt-frame", "bt-value"))
    val (_, built3) = SharedFrames.tracedBuilds(demand().count())
    assert(built3 == Set("bt-frame", "bt-value"),
      "released cells must re-attribute on rebuild")
    SharedFrames.release(spark, dir, Set("bt-frame", "bt-value"))
  }

  test("raw parquet scans push filters down (events by event_type)") {
    // the registry serves cached spread frames; the RAW path — what a
    // 100 TB deployment reads — must push the predicate into the scan
    val plan = Tables.events(spark, "/root/testdata/sf0.001")
      .filter(col("event_type") === "view")
      .select(col("event_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: ["), s"no pushdown section:\n$plan")
    assert(plan.contains("EqualTo(event_type,view)"),
      s"event_type filter not pushed:\n$plan")
  }
}
