package graft

import graft.similarity.Similarity
import graft.text.{Dedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Scale-trend smoke harness: amplifies the `documents` corpus K× with
 * MUTATED copies (each copy appends a distinct tag token, so copies are
 * not near-duplicates and the duplicate structure per copy is preserved)
 * and times the heavy curation operators at each K. The point is the
 * TREND — a quadratic term shows up as super-linear growth long before
 * 100 TB does — not absolute numbers. Usage:
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.ScaleSmoke 1 2 4 8"
 *
 * Prints one JSON line per K with per-operator seconds.
 */
object ScaleSmoke {

  /** K mutated copies: every TOKEN gets a per-copy suffix, so copies
    * share no shingles — the duplicate/near-dup structure per copy is
    * preserved while cross-copy pairs are impossible. (A single appended
    * tag token is NOT enough: copies would still share almost all
    * shingles and form K-sized near-dup classes — quadratic pair growth
    * that measures output size, not operator scaling.) */
  private def amplify(docs: DataFrame, k: Int): DataFrame =
    (0 until k).map { i =>
      docs.select(
        (col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1" + s"c$i").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    val ks = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 4, 8)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = spark.read.parquet(s"$sfDir/documents.parquet")

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    // K=0 pass warms codegen so the first measured K isn't billed for it
    val warm = amplify(base, 1).limit(200)
      .repartition(cpus)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Dedup.nearDupMinhashLsh(warm).count()
    TextAnalysis.vocabTopK(warm).count()
    TextAnalysis.qualityGate(warm).count()
    warm.unpersist()

    // SPARK_GRAFT_SCALE_OPS=skew (r14): the ADVERSARIAL-SKEW rung — the
    // df-cap/bucket-cap claims measured on a corpus built to break them:
    // 90% of documents share one injected boilerplate sentence, so its
    // shingles' document frequency is ~0.9·N and the UNCAPPED inverted
    // index would emit Θ(N²) candidate pairs from those shingles alone
    // (the would-be mass is computed analytically as Σ_shingle df·(df−1)/2
    // — running it would BE the blow-up). The capped detectors must stay
    // pair-bounded and wall-linear across K while that mass grows
    // quadratically. Boilerplate-heavy corpora are the REALISTIC shape
    // (headers, licenses, navigation chrome), not a corner case.
    if (sys.env.get("SPARK_GRAFT_SCALE_OPS").contains("skew")) {
      val boiler = "all rights reserved this page is served by the " +
        "standard corpus frontend please see terms of service"
      for (k <- ks) {
        val docs = amplify(base, k)
          .withColumn("text",
            when(pmod(xxhash64(col("doc_id")), lit(10)) < 9,
              concat(lit(boiler + " "), col("text"))).otherwise(col("text")))
          .repartition(cpus)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = docs.count()
        val sh = Dedup.shingleArrays(docs, 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        // analytic uncapped candidate mass + the hottest shingle's df
        // (no distinct: shingleArrays emits SET arrays, so the exploded
        // (doc, shingle) rows are unique by construction)
        val dfStats = sh
          .select(col("doc_id"), explode(col("sh")).as("s"))
          .groupBy(col("s")).agg(count(lit(1)).as("df"))
          .agg(sum(col("df") * (col("df") - 1) / 2).cast("long"),
            max(col("df")))
          .collect()(0)
        val (uncappedMass, hottestDf) = (dfStats.getLong(0), dfStats.getLong(1))
        val (tMinhash, lshPairs) = timed {
          Dedup.nearDupMinhashLsh(docs, sharedShingles = Some(sh)).count()
        }
        val (tContain, containPairs) = timed {
          Dedup.containmentPairs(docs, sharedShingles = Some(sh)).count()
        }
        val (tCapped, cappedPairs) = timed {
          Dedup.jaccardPairsExact(docs, sharedShingles = Some(sh),
            maxShingleDf = Some(100)).count()
        }
        println(s"""{"rung":"skew","k":$k,"docs":$n,""" +
          s""""hottest_df":$hottestDf,"uncapped_candidate_pairs":$uncappedMass,""" +
          s""""minhash_sec":$tMinhash,"minhash_pairs":$lshPairs,""" +
          s""""contain_sec":$tContain,"contain_pairs":$containPairs,""" +
          s""""capped_sec":$tCapped,"capped_pairs":$cappedPairs}""")
        sh.unpersist(); docs.unpersist(); spark.catalog.clearCache()
      }
      spark.stop()
      return
    }

    // SPARK_GRAFT_SCALE_OPS=invidx: only the three inverted-index
    // operators — the suite's sharpest quadratic-term detectors — so
    // high-K runs (32/64 ≈ 160k/320k docs) don't pay for the full
    // battery. Trend contract: pair counts exactly linear in K, time
    // bounded by the df-cap² per-bucket work.
    if (sys.env.get("SPARK_GRAFT_SCALE_OPS").contains("invidx")) {
      for (k <- ks) {
        val docs = amplify(base, k)
          .repartition(cpus)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val n = docs.count()
        val sh = Dedup.shingleArrays(docs, 3)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val (tMinhash, pairs) = timed {
          Dedup.nearDupMinhashLsh(docs, sharedShingles = Some(sh)).count()
        }
        val (tContain, containPairs) = timed {
          Dedup.containmentPairs(docs, sharedShingles = Some(sh)).count()
        }
        val (tCapped, cappedPairs) = timed {
          Dedup.jaccardPairsExact(docs, sharedShingles = Some(sh),
            maxShingleDf = Some(100)).count()
        }
        println(s"""{"k":$k,"docs":$n,"minhash_sec":$tMinhash,"pairs":$pairs,""" +
          s""""contain_sec":$tContain,"contain_pairs":$containPairs,""" +
          s""""capped_sec":$tCapped,"capped_pairs":$cappedPairs}""")
        sh.unpersist(); docs.unpersist(); spark.catalog.clearCache()
      }
      spark.stop()
      return
    }

    for (k <- ks) {
      val docs = amplify(base, k)
        .repartition(cpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = docs.count()
      val sh = Dedup.shingleArrays(docs, 3)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (tMinhash, pairs) = timed {
        Dedup.nearDupMinhashLsh(docs, sharedShingles = Some(sh)).count()
      }
      // clusters is timed over a MATERIALIZED pair frame — re-running the
      // whole pair pipeline inside the timer (ADVICE r6) conflated pair
      // generation with label propagation and overstated propagation ~2×
      val pairFrame = Dedup.nearDupMinhashLsh(docs, sharedShingles = Some(sh))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairFrame.count()
      val (tClusters, members) = timed { Dedup.clusters(pairFrame).count() }
      pairFrame.unpersist()
      // the two inverted-index self-joins: cost is bounded by df-cap², so
      // the trend across K is the sharpest quadratic-term detector here
      val (tContain, containPairs) = timed {
        Dedup.containmentPairs(docs, sharedShingles = Some(sh)).count()
      }
      val (tCapped, cappedPairs) = timed {
        Dedup.jaccardPairsExact(docs, sharedShingles = Some(sh),
          maxShingleDf = Some(100)).count()
      }
      // novelty: two bounded-skew shuffles over the exploded shingles;
      // its trend must track the shingle volume (linear in K) — growth
      // past that means the df join's hottest key stopped being absorbed
      // by map-side partials
      val (tNovelty, noveltyRows) = timed { Dedup.ngramNovelty(sh).count() }
      val (tVocab, vocabRows) = timed { TextAnalysis.vocabTopK(docs).count() }
      val (tGate, gateRows) = timed { TextAnalysis.qualityGate(docs).count() }
      val (tSpans, spanDocs) = timed {
        Dedup.duplicateSpanStats(docs, k = 12).count()
      }
      // linear one-shuffle curation ops: the packer trend guards the
      // two-pass prefix sum (a serialization cliff would show as
      // super-linear growth at high K), the classifier trend the
      // broadcast-model join; their internal aux persists are
      // doc-count-sized and fall to the loop-end clearCache
      val (tPackSeq, segRows) = timed {
        TextAnalysis.packSequences(docs).count()
      }
      val (tQc, qcRows) = timed {
        TextAnalysis.hashedLinearScore(docs).count()
      }
      // bloom probe: the position set is bounded by mBits however large
      // the corpus grows, so the trend must stay linear in K (broadcast
      // build + map-side probes); super-linear growth would mean the
      // membership join stopped broadcasting
      val (tBloom, bloomRows) = timed {
        Dedup.bloomDedupAudit(docs, col("doc_id") % 10 === 0).count()
      }
      // embeddings side: exact copies under fresh ids — queries and the
      // decontamination eval set stay pinned to ORIGINAL ids so candidate
      // and output sizes grow linearly in K (eval × corpus, not K²) and
      // the timings measure operator scaling, not result growth
      val embs = (0 until k).map { i =>
        spark.read.parquet(s"$sfDir/embeddings.parquet").select(
          (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_ unionAll _)
        .repartition(cpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      embs.count()
      val codes = Similarity.productQuantize(embs)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (tPq, nCodes) = timed { codes.count() }
      val (tAdc, adcRows) = timed {
        Similarity.adcTopK(embs, nQueries = 8, topK = 5,
          sharedCodes = Some(codes)).count()
      }
      // batch-standing-query LUT-table forms at 128 queries (16× the
      // literal forms' 8): the query set is pinned to ORIGINAL ids, so
      // per-K growth measures the corpus-side scan/candidate cost alone —
      // the trend must stay flat-to-linear like the literal forms'
      val (tAdcBatch, adcBatchRows) = timed {
        Similarity.adcTopKBatch(embs, nQueries = 128, topK = 5,
          sharedCodes = Some(codes)).count()
      }
      val (tIvfPqBatch, ivfPqBatchRows) = timed {
        Similarity.ivfPqTopKBatch(embs, nQueries = 128, topK = 5,
          sharedCodes = Some(codes)).count()
      }
      val (tSemDecon, flagged) = timed {
        Similarity.semanticDecontaminate(embs,
          isEval = col("vec_id") < 60L && col("vec_id") % 11 === 0,
          threshold = 0.25).count()
      }
      // queries pinned to original ids: candidate volume grows with cell
      // occupancy (linear in K), the probe/LUT sides stay constant
      val (tIvfPq, ivfPqRows) = timed {
        Similarity.ivfPqTopK(embs, nQueries = 8, topK = 5,
          sharedCodes = Some(codes)).count()
      }
      // pure map work: RP must track the scan cost (linear, no shuffle)
      val (tRp, rpRows) = timed {
        Similarity.randomProjection(embs).count()
      }
      println(s"""{"k":$k,"docs":$n,"minhash_sec":$tMinhash,"pairs":$pairs,""" +
        s""""clusters_sec":$tClusters,"members":$members,""" +
        s""""contain_sec":$tContain,"contain_pairs":$containPairs,""" +
        s""""capped_sec":$tCapped,"capped_pairs":$cappedPairs,""" +
        s""""novelty_sec":$tNovelty,"novelty_rows":$noveltyRows,""" +
        s""""vocab_sec":$tVocab,"gate_sec":$tGate,""" +
        s""""spans_sec":$tSpans,"span_docs":$spanDocs,""" +
        s""""pq_sec":$tPq,"adc_sec":$tAdc,""" +
        s""""adc_batchq_sec":$tAdcBatch,"adc_batchq_rows":$adcBatchRows,""" +
        s""""ivfpq_batchq_sec":$tIvfPqBatch,"ivfpq_batchq_rows":$ivfPqBatchRows,""" +
        s""""semdecon_sec":$tSemDecon,"flagged":$flagged,""" +
        s""""ivfpq_sec":$tIvfPq,"ivfpq_rows":$ivfPqRows,""" +
        s""""packseq_sec":$tPackSeq,"seg_rows":$segRows,""" +
        s""""qclass_sec":$tQc,"qclass_rows":$qcRows,""" +
        s""""bloom_sec":$tBloom,"bloom_rows":$bloomRows,""" +
        s""""rp_sec":$tRp,"rp_rows":$rpRows}""")
      codes.unpersist(); embs.unpersist()
      sh.unpersist(); docs.unpersist(); spark.catalog.clearCache()
    }
    spark.stop()
  }
}

/**
 * Event-side scale-trend smoke — the ad-pipeline complement of
 * [[ScaleSmoke]]: amplifies the `events` stream table K× and times the
 * four operators a production user hits first (the bucketed interval
 * join + windowed distinct ctr, the union-scan as-of join,
 * session_window sessionization, and the first-touch funnel), each in
 * two key regimes:
 *
 *  - UNIFORM: every copy gets fresh user/event ids — the user population
 *    grows K×, per-user event density (the per-key work) stays constant.
 *    Expected trend: linear in K for every operator; a super-linear term
 *    here means a shuffle or sort stopped scaling with the key space.
 *  - SKEWED: additionally, `skewShare` of EVERY copy's rows are
 *    reassigned to one hot user — the hot key's event count grows K×
 *    while everything else matches the uniform run. This is the
 *    deliberately pathological distribution: the bucketed interval join
 *    must keep its output (and time) bounded by genuine within-bucket
 *    pairs rather than a per-key cross product, and the window-pass
 *    operators (as-of, sessions, funnel) must degrade as the hot key's
 *    O(h log h) single-task sort — not quadratically, and without
 *    serializing the other keys' partitions.
 *
 * Pair/row counts are printed next to the seconds so output growth is
 * separable from operator overhead. Usage:
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.EventScaleSmoke 1 2 4 8"
 *
 * One JSON line per (K, regime).
 */
object EventScaleSmoke {

  private val hotUser = 0L

  /** K copies under fresh ids; `skewShare` of each copy's rows rerouted
    * to the single hot user. Id shifts keep `user_id % 10` (the campaign
    * mapping) intact, so the ctr group-key space stays constant. */
  private def amplify(ev: DataFrame, k: Int, skewShare: Double): DataFrame =
    (0 until k).map { i =>
      val shifted = ev.select(
        (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
      if (skewShare <= 0) shifted
      else shifted.withColumn("user_id",
        when(pmod(col("event_id"), lit(1000)) < (skewShare * 1000).toInt,
          lit(hotUser)).otherwise(col("user_id")))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    val skewShare = sys.env.getOrElse("SPARK_GRAFT_SKEW", "0.2").toDouble
    val ks = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 2, 4, 8)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.queries.Tables.events(spark, sfDir)
    // the amplify id shifts assume ids below these bounds; a base table
    // that exceeds them would alias copies into each other and silently
    // FLATTEN the measured trend — fail loudly instead
    val mx = base.agg(max(col("event_id")), max(col("user_id"))).head()
    require(mx.getLong(0) < 100000000L && mx.getLong(1) < 10000000L,
      s"base ids exceed the amplify shift bounds: event_id max " +
        s"${mx.getLong(0)} (< 1e8 required), user_id max ${mx.getLong(1)} " +
        "(< 1e7 required)")

    def timed(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val rows = f
      ((System.nanoTime() - t0) / 1e9, rows)
    }

    def deviceExpr = when(col("value") < 50, "mobile")
      .when(col("value") < 100, "desktop")
      .when(col("value") < 150, lit(null: String))
      .otherwise("tablet")

    def measure(k: Int, skew: Double): Unit = {
      val ev = amplify(base, k, skew)
        .repartition(cpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = ev.count()
      val impr = ev.filter(col("event_type") === "view").select(
        col("event_id").as("impression_id"), col("user_id"),
        concat(lit("camp-"), (col("user_id") % 10).cast("string"))
          .as("campaign_id"),
        deviceExpr.as("device_type"), col("ts").as("event_time"))
      val clk = ev.filter(col("event_type") === "click").select(
        col("event_id").as("click_id"), col("user_id"),
        col("ts").as("event_time"))
      // join timed apart from the ctr agg so quadratic pair growth (a
      // semantic property of a hot key: its in-bucket views × clicks
      // genuinely pair) is visible separately from aggregation cost
      val joined = graft.ops.IntervalJoin.leftOuterWithinBucketed(
        impr, clk, leftKey = "user_id", rightKey = "user_id",
        leftTime = "event_time", rightTime = "event_time",
        intervalMs = 10L * 60 * 1000)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (tJoin, joinRows) = timed { joined.count() }
      val (tCtr, ctrRows) = timed {
        graft.ops.WindowedCounts.ctrAgg(joined,
          groupKey = col("i.campaign_id"), keyOut = "campaign_id",
          timeCol = col("i.event_time"), windowLength = "1 minute",
          distinctA = col("i.impression_id"), distinctB = col("c.click_id"),
          withRatio = true).count()
      }
      joined.unpersist()
      val (tAsof, asofRows) = timed {
        graft.ops.AsOfJoin.lastBefore(
          ev.filter(col("event_type") === "view")
            .select(col("event_id"), col("user_id"), col("ts")),
          ev.filter(col("event_type") === "click")
            .select(col("event_id"), col("user_id"), col("ts")),
          key = "user_id", ts = "ts",
          leftId = "event_id", rightId = "event_id").count()
      }
      val (tSess, sessRows) = timed {
        graft.ops.Sessionize.userSessions(
          ev.select(col("user_id"), col("ts"), col("event_type"),
            col("value")), 21600L).count()
      }
      val (tFunnel, funnelRows) = timed {
        graft.ops.Funnel.stages(ev,
          Seq("view", "click", "purchase")).count()
      }
      // contract family (r11): the report is one shared row-grain agg
      // plus one key-grain pass over event_id (the only part whose key
      // space grows K×); quarantine is a pure projection; the monitor
      // one bounded-key windowed agg. Expected flat-to-linear.
      val contractChecks = {
        import graft.contracts.Contracts._
        Seq(notNull("event_id"), notNull("user_id"),
          tsBetween("ts", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
          inSet("event_type",
            Seq("view", "click", "purchase", "signup", "error")),
          inRange("value", 0.0, 150.0),
          lengthAtMost("props", 8))
      }
      val (tContract, contractRows) = timed {
        graft.contracts.Contracts.validate(ev, contractChecks,
          Seq(Seq("event_id"))).count()
      }
      val (tQuar, quarRows) = timed {
        graft.contracts.Contracts.quarantine(ev, contractChecks)
          .filter(!col("keep")).count()
      }
      val (tMon, monRows) = timed {
        graft.contracts.Contracts.violationMonitor(ev, contractChecks,
          windowLength = "1 day", tsCol = "ts").count()
      }
      println(s"""{"k":$k,"skew":$skew,"events":$n,""" +
        s""""join_sec":$tJoin,"join_rows":$joinRows,""" +
        s""""ctr_sec":$tCtr,"ctr_rows":$ctrRows,""" +
        s""""asof_sec":$tAsof,"asof_rows":$asofRows,""" +
        s""""sessions_sec":$tSess,"session_rows":$sessRows,""" +
        s""""funnel_sec":$tFunnel,"funnel_rows":$funnelRows,""" +
        s""""contract_sec":$tContract,"contract_rows":$contractRows,""" +
        s""""quarantine_sec":$tQuar,"quarantine_rows":$quarRows,""" +
        s""""monitor_sec":$tMon,"monitor_rows":$monRows}""")
      ev.unpersist(); spark.catalog.clearCache()
    }

    // warm pass compiles every operator's generated code at tiny scale
    measure(1, 0.0)
    println("""{"warmup_done":true}""")
    for (k <- ks) measure(k, 0.0)
    for (k <- ks) measure(k, skewShare)
    spark.stop()
  }
}

/**
 * Layout scale-trend smoke — the storage complement of
 * [[EventScaleSmoke]]: amplifies `events` K× (uniform ids, same 30-day
 * span), lands the SAME data twice — date-partitioned via
 * [[graft.sources.TableLayout]] and as a monolithic unpartitioned
 * parquet directory — and times the canonical time-bounded read (one
 * week's rollup) on each, with the scan's files/bytes next to the
 * seconds. The point: at tiny scale the partitioned read LOSES on wall
 * clock (listing + 7 file opens beat one small file's scan), and the
 * crossover where pruning starts paying is a measurable K — while the
 * bytes-read ratio (7/30 of the table) is scale-invariant, which is
 * what a 100 TB table actually buys. Usage:
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.LayoutScaleSmoke 1 4 16 64"
 */
object LayoutScaleSmoke {

  private def amplify(ev: org.apache.spark.sql.DataFrame, k: Int) =
    (0 until k).map { i =>
      ev.select(
        (col("event_id") + lit(i.toLong * 100000000L)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i.toLong * 10000000L)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    val ks = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 16, 64)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = graft.queries.Tables.events(spark, sfDir)

    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }

    def scanStats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val through = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        p +: through.flatMap(walk)
      }
      walk(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec => f }
        .headOption.map { f =>
          def v(k: String) = f.metrics.get(k).map(_.value).getOrElse(-1L)
          (v("numFiles"), v("filesSize"))
        }.getOrElse((-1L, -1L))
    }

    def rollup(df: org.apache.spark.sql.DataFrame, dateExpr:
        org.apache.spark.sql.Column) =
      df.filter(dateExpr.between("2024-01-08", "2024-01-14"))
        .groupBy(dateExpr.as("d"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("s"))

    // warm codegen + listing machinery once
    rollup(base, to_date(col("ts"))).collect()

    val work = java.nio.file.Files.createTempDirectory("layout_scale")
    for (k <- ks) {
      val ev = amplify(base, k).repartition(cpus * 2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = ev.count()
      val partDir = s"$work/part_k$k"
      val monoDir = s"$work/mono_k$k"
      val (tWrite, _) = timed {
        graft.sources.TableLayout.writeDatePartitioned(ev, partDir)
      }
      ev.write.mode("overwrite").parquet(monoDir)
      ev.unpersist()

      val pruned = rollup(
        graft.sources.TableLayout.readDatePartitioned(spark, partDir),
        col(graft.sources.TableLayout.dateCol))
      val mono = rollup(spark.read.parquet(monoDir), to_date(col("ts")))
      val (tPruned, _) = timed(pruned.collect())
      val (prunedFiles, prunedBytes) = scanStats(pruned)
      val (tMono, _) = timed(mono.collect())
      val (monoFiles, monoBytes) = scanStats(mono)

      // ---- maintenance battery: CONSTANT-size work against the K×
      // table. The structural claim under test is O(touched days'
      // bytes) + a narrow-column probe, never O(table rewrite) —
      // provision_sec above is the full-write yardstick, so
      // maintenance_sec/provision_sec must FALL as K grows even though
      // each touched day is K× denser. Batches draw from copy 0 (ids
      // stable across K) via pmod classes, deterministic and disjoint.
      import graft.sources.TableLayout
      val dataCols = Seq("event_id", "ts", "user_id", "event_type",
        "value", "props")
      def batch(cls: Int) = base
        .filter(pmod(col("event_id"), lit(50)) === cls)
        .select(dataCols.map(col): _*)
      // cross-date key moves: ts shifts two days, old copies must be
      // probed out of their old partitions (global-key semantics)
      val (tUpMove, _) = timed {
        TableLayout.upsertDatePartitions(spark, partDir,
          batch(0).withColumn("ts",
            col("ts") + expr("INTERVAL 2 DAYS"))
            .withColumn("value", col("value") + 1000.0),
          keyCols = Seq("event_id"))
      }
      // same-day corrections under the caller's no-day-moves guarantee:
      // no probe scan, touches exactly the batch's target dates
      val (tUpDay, _) = timed {
        TableLayout.upsertDatePartitions(spark, partDir,
          batch(1).withColumn("value", col("value") + 1000.0),
          keyCols = Seq("event_id"), keysSpanDates = false)
      }
      val nDel = batch(2).count()
      val (tDelete, _) = timed {
        TableLayout.deleteDateKeys(spark, partDir,
          batch(2).select("event_id"), keyCols = Seq("event_id"))
      }
      // the upserts fragmented their touched days; compact one of them
      val (tCompact, _) = timed {
        TableLayout.compactDatePartitions(spark, partDir,
          col(TableLayout.dateCol) === "2024-01-10")
      }
      val statsCols = Seq("user_id", "value")
      val (tStatsBuild, _) = timed {
        TableLayout.buildFileStats(spark, partDir, statsCols)
      }
      TableLayout.compactDatePartitions(spark, partDir,
        col(TableLayout.dateCol) === "2024-01-12")
      val (tStatsRefresh, refreshed) = timed {
        TableLayout.refreshFileStats(spark, partDir, statsCols)
      }
      // nothing lost or doubled across the whole battery
      val nAfter = TableLayout.readDatePartitioned(spark, partDir).count()
      require(nAfter == n - nDel,
        s"maintenance battery changed the row count: $nAfter != $n - $nDel")

      println(s"""{"k":$k,"events":$n,"provision_sec":$tWrite,""" +
        s""""pruned_sec":$tPruned,"pruned_files":$prunedFiles,""" +
        s""""pruned_bytes":$prunedBytes,""" +
        s""""mono_sec":$tMono,"mono_files":$monoFiles,""" +
        s""""mono_bytes":$monoBytes,""" +
        s""""upsert_move_sec":$tUpMove,"upsert_daygrain_sec":$tUpDay,""" +
        s""""delete_sec":$tDelete,"deleted_rows":$nDel,""" +
        s""""compact_sec":$tCompact,"stats_build_sec":$tStatsBuild,""" +
        s""""stats_refresh_sec":$tStatsRefresh,""" +
        s""""refresh_added":${refreshed._1},"refresh_dropped":${refreshed._2}}""")

      // documents-takedown ladder (r12): a CONSTANT batch of 200 doomed
      // doc_ids spanning 4 of 20 sources against a K×-amplified corpus
      // layout — the takedown cost must track the TOUCHED sources'
      // bytes, never the table
      val docsBase = spark.read.parquet(s"$sfDir/documents.parquet")
      val docsAmp = (0 until k).map { i =>
        docsBase.select((col("doc_id") + lit(i.toLong * 10000000L)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionAll _)
      val docsDir = s"$work/docs_k$k"
      TableLayout.writeDocumentsSourcePartitioned(spark, docsAmp, docsDir)
      val nDocs = spark.read.parquet(docsDir).count()
      // orderBy before limit: an unordered LIMIT re-evaluates to a
      // DIFFERENT id set across the three jobs that consume this frame
      // (count / touched-source probe / kept anti-join), making the
      // row-drift require flaky or the takedown under-delete (ADVICE r12)
      val doomedDocs = docsBase
        .filter(col("source").isin("src1", "src5", "src9", "src13"))
        .select(col("doc_id")).orderBy(col("doc_id")).limit(200)
      val nDoomed = doomedDocs.count()
      val (tTakedown, _) = timed {
        TableLayout.deleteDocIds(spark, docsDir, doomedDocs)
      }
      val nDocsAfter = spark.read.parquet(docsDir).count()
      require(nDocsAfter == nDocs - nDoomed,
        s"takedown row drift: $nDocsAfter != $nDocs - $nDoomed")
      println(s"""{"k":$k,"docs":$nDocs,"takedown_sec":$tTakedown,""" +
        s""""takedown_ids":$nDoomed}""")
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(docsDir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(partDir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(monoDir))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    spark.stop()
  }
}

/**
 * ANN-layout scale smoke: amplifies the `embeddings` corpus K× (fresh
 * ids, per-copy-scaled vectors — cosine structure preserved, cells
 * deterministic) and times the SAME IVF query two ways at each K: the
 * query-time variant (`ivfHashTopK`, scans the corpus to recompute
 * cells) and the at-rest variant (`ivfHashTopKPruned` over the
 * cell-partitioned layout, probe set pruning directories at listing).
 * Scan files/bytes printed beside the seconds: the scale-invariant
 * receipt is the probed fraction of the table's bytes, the wall-clock
 * gap is the local crossover. Usage:
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.AnnScaleSmoke 1 4 16 64"
 */
object AnnScaleSmoke {

  private def amplify(e: org.apache.spark.sql.DataFrame, k: Int) =
    (0 until k).map { i =>
      e.select(
        (col("vec_id") + lit(i.toLong * 10000000L)).as("vec_id"),
        transform(col("embedding"),
          x => x * (lit(1.0f) + lit(i.toFloat * 0.001f))).as("embedding"))
    }.reduce(_ unionAll _)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus(4)
    // quantizer width and query-batch size are THE pruning knobs: the
    // probed fraction is at most nQueries*nProbe/nCells, so the
    // registered oracle config (16 cells, 8 queries) probes nearly
    // everything while a production quantizer (hundreds-plus cells)
    // probes a sliver — measure both
    val nCells = sys.env.getOrElse("SPARK_GRAFT_ANN_CELLS", "16").toInt
    val nQueries = sys.env.getOrElse("SPARK_GRAFT_ANN_QUERIES", "8").toInt
    val ks = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(1, 4, 16, 64)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))

    def timed[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f
      ((System.nanoTime() - t0) / 1e9, r)
    }
    def scanStats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
      def walk(p: SparkPlan): Seq[SparkPlan] = {
        val through = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case other => other.children
        }
        p +: through.flatMap(walk)
      }
      val scans = walk(df.queryExecution.executedPlan)
        .collect { case f: FileSourceScanExec
          if f.relation.partitionSchema.fieldNames.contains("cell") => f }
      def v(f: FileSourceScanExec, k: String) =
        f.metrics.get(k).map(_.value).getOrElse(0L)
      (scans.map(v(_, "numFiles")).sum, scans.map(v(_, "filesSize")).sum)
    }

    import graft.similarity.Similarity
    // warm codegen/planning once
    Similarity.ivfHashTopK(base, nQueries = 1, k = 5).count()

    val work = java.nio.file.Files.createTempDirectory("ann_scale")
    for (k <- ks) {
      val emb = amplify(base, k).repartition(cpus)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val n = emb.count()
      val dir = s"$work/cells_k$k"
      // cluster each cell into a few files (repartition on the cell plus
      // a small hash spread) — a naive write leaves one file per
      // (task × cell) and the layout degrades to listing overhead
      val (tBuild, _) = timed {
        val a = Similarity.ivfCellAssignments(emb, nCells)
        a.repartition(col("cell"), pmod(col("vec_id"), lit(4)))
          .write.partitionBy("cell").parquet(dir)
      }
      // honest asymmetry: the full-scan variant reads the PERSISTED
      // in-memory corpus while the pruned variant pays real parquet
      // I/O on the layout — any crossover in pruned's favor survives
      // giving the full scan the cache advantage
      val layout = spark.read.parquet(dir)
      val (tFull, fullRows) = timed {
        Similarity.ivfHashTopK(emb, nQueries = nQueries, k = 5,
          nCells = nCells).count()
      }
      val pruned = Similarity.ivfHashTopKPruned(emb, layout,
        nQueries = nQueries, k = 5, nCells = nCells)
      // collect (40 rows), not count: count() executes a DERIVED plan,
      // leaving this frame's scan metrics empty
      val (tPruned, prunedRows) = timed { pruned.collect().length.toLong }
      val (files, bytes) = scanStats(pruned)
      val totalFiles = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try s.toArray.map(_.toString)
          .count(p => p.endsWith(".parquet") && !p.contains("_spark_metadata"))
        finally s.close()
      }
      require(fullRows == prunedRows,
        s"pruned row count diverged: $prunedRows != $fullRows")
      println(s"""{"k":$k,"cells":$nCells,"queries":$nQueries,""" +
        s""""vectors":$n,"layout_build_sec":$tBuild,""" +
        s""""full_sec":$tFull,"pruned_sec":$tPruned,"rows":$fullRows,""" +
        s""""pruned_files":$files,"total_files":$totalFiles,""" +
        s""""pruned_bytes":$bytes}""")

      // LSM merge ladder (r12): a CONSTANT-size, HOT-CELL segment batch
      // (streams hit hot cells) against the K×-bigger base — the pass
      // that runs forever in production. Full merge rebuilds every cell
      // (O(base), linear in K — the honest row); touchedOnly rebuilds
      // only the segment-hit cells and file-copies the rest.
      val fresh = base.limit(500).select(
        (col("vec_id") + lit(900000000L)).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.0005f)).as("embedding"))
      val assignedAll = Similarity
        .ivfCellAssignmentsAgainst(fresh, emb, nCells)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // the batch's two hottest cells play the hot-cell stream
      val hot = assignedAll.groupBy(col("cell")).count()
        .orderBy(col("count").desc, col("cell")).limit(2)
        .collect().map(_.getLong(0))
      val assignedSeg = assignedAll.filter(col("cell").isin(hot.toIndexedSeq: _*))
      val segDir = s"$work/seg_k$k"
      assignedSeg.write.partitionBy("cell").parquet(segDir)
      assignedAll.unpersist()
      val segRows = spark.read.parquet(segDir).count()
      val (tMergeFull, _) = timed {
        graft.sources.TableLayout.mergeCellSegments(spark, dir,
          Seq(segDir), s"$work/merged_full_k$k", filesPerCell = 4)
      }
      val (tMergeTouched, _) = timed {
        graft.sources.TableLayout.mergeCellSegments(spark, dir,
          Seq(segDir), s"$work/merged_touched_k$k", filesPerCell = 4,
          touchedOnly = true)
      }
      val mf = spark.read.parquet(s"$work/merged_full_k$k").count()
      val mt = spark.read.parquet(s"$work/merged_touched_k$k").count()
      require(mf == n + segRows && mt == n + segRows,
        s"merge row drift: full=$mf touched=$mt want=${n + segRows}")
      println(s"""{"k":$k,"merge_seg_rows":$segRows,""" +
        s""""merge_full_sec":$tMergeFull,""" +
        s""""merge_touched_sec":$tMergeTouched}""")
      Seq(s"$work/merged_full_k$k", s"$work/merged_touched_k$k", segDir)
        .foreach(d =>
          org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))

      emb.unpersist()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
    org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
    spark.stop()
  }
}
