package graft.queries

import graft.multimodal.Multimodal
import graft.similarity.Similarity
import graft.text.{Dedup, Retrieval, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Registry of the training-data-pipeline operators (dedup, similarity
 * search, text analysis, multimodal) over the driver's `documents`,
 * `embeddings`, and `events` tables, each with a DuckDB oracle that
 * replicates the exact same algorithm — including the salted-md5 MinHash
 * family and the LSH banding — so even the sketch-based operators get
 * full value-level correctness checks — including the random-hyperplane
 * ANN (`similarity_ann`), whose fixed-seed planes are embedded in its
 * generated oracle SQL as literal coefficients, and (since r7) the IVF
 * (`similarity_ivf`), whose hash-sampled deterministic centroids make
 * even the coarse quantizer SQL-replicable. Every registered query is
 * oracle-checked; the learned-k-means `Similarity.ivfTopK` variant stays
 * library-only with its recall pinned by `SimilaritySpec`.
 */
object DataPipelineQueries {

  /** The pipeline-wide eval/benchmark id convention: documents with
    * doc_id % this == 0 are the held-out benchmark set — decontaminate
    * flags training docs overlapping them, curate_corpus (and the
    * funnel's final stage) drops them from the shipped corpus. ONE
    * constant threaded through every Spark arm and oracle string so a
    * retune cannot drift the stages apart (review r18: it was spelled
    * literally in five places). */
  private val EvalHoldoutMod = 43

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(spark, sfDir, "documents")

  private def embs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.spread(spark, sfDir, "embeddings")

  // ------------------------------------------------------------- builders

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exact(docs(spark, sfDir))

  def dedupNormalized(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.normalizedExact(docs(spark, sfDir))

  /** [[Dedup.unicodeExact]] — the multi-script canonical dedup (NFC +
    * casefold + category tokens; dedup_normalized's `[^a-z0-9 ]` class
    * erases non-Latin scripts entirely). */
  def dedupUnicode(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.unicodeExact(docs(spark, sfDir))

  /** Verbatim [[Dedup.unicodeForm]] in DuckDB. */
  val dedupUnicodeOracle: String =
    s"""SELECT min(doc_id) AS doc_id,
       |  md5(array_to_string(list_filter(regexp_split_to_array(
       |    lower(nfc_normalize(text)), '[^\\p{L}\\p{N}]+'),
       |    s -> s <> ''), ' ')) AS fingerprint,
       |  count(*) AS group_size,
       |  count(DISTINCT md5(text)) AS n_variants
       |FROM documents GROUP BY 2""".stripMargin

  /** Duplicate-span window width shared with the oracle SQL. */
  private val spanWindow = 12

  def dedupSpans(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.duplicateSpanStats(docs(spark, sfDir), k = spanWindow)

  def spanBoilerplate(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.boilerplateSpans(docs(spark, sfDir), k = spanWindow)

  /** Memoized: stripBoilerplate aux-persists its positional window frame
    * at build time. */
  val stripBoilerplateQ: (SparkSession, String) => DataFrame =
    memoized("stripBoilerplate") { (spark, sfDir) =>
      Dedup.stripBoilerplate(docs(spark, sfDir), k = spanWindow)
    }

  /** One persisted word-3-gram per-doc shingle-array frame per (session,
    * sfDir), shared by the MinHash and exact-Jaccard dedup queries — both
    * would otherwise tokenize the whole corpus independently, and the
    * exact-Jaccard self-join NEEDS a materialized input (recomputing the
    * explode on both sides mis-plans and double-scans). */
  private def sharedShingles(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "shingleArrays3")(
      Dedup.shingleArrays(docs(spark, sfDir), n = 3))

  /** Builders that persist an internal frame (LSH band/bucket indexes,
    * the IVF feature cache) are memoized per (session, sfDir) with the
    * RESULT left unpersisted: repeated invocations — the bench's warmup +
    * n timed reps, a notebook re-running a cell — reuse the one internal
    * cache entry instead of stacking a fresh MEMORY_AND_DISK copy per
    * call for the session lifetime. */
  private def memoized(name: String)(build: (SparkSession, String) => DataFrame)
      : (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, s"$name-result",
      persist = false)(build(spark, sfDir))

  /** One persisted 8-lane minhash signature per (session, sfDir) — the
    * md5-dominated map pass over the shingle arrays — consumed by BOTH
    * the LSH pair pipeline and `lsh_bucket_stats` (the audit must hash
    * the exact keys the pair join shuffles on, and sharing the frame
    * means it computes them from the exact same signature rows). */
  private def sharedSignature(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "minhashSig8")(
      Dedup.minhashSignature(sharedShingles(spark, sfDir), k = 8))

  /** Memoized WITH persistence (cf. the persist=false memos below): the
    * near-dup PAIR tables are the registry's most-consumed intermediates
    * (the pair query itself, cluster resolution, the recall audit, and
    * curate_corpus through the clusters) and their OUTPUT is tiny —
    * O(duplicate pairs), not O(corpus). A production pipeline lands the
    * pair table once and every downstream stage reads it; leaving the
    * result unpersisted made each consumer re-run the band join + verify
    * off the cached internals. */
  val dedupMinhash: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "minhashPairs") {
      Dedup.nearDupMinhashLsh(docs(spark, sfDir),
        sharedShingles = Some(sharedShingles(spark, sfDir)),
        sharedSignature = Some(sharedSignature(spark, sfDir)))
    }

  /** Source-pair duplication matrix over the memoized minhash pair
    * table — the "which feeds mirror each other" report. Runs after
    * dedup_minhash in registry order, so the pair memo is warm. */
  def crossSourceLeakageQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.crossSourceLeakage(dedupMinhash(spark, sfDir), docs(spark, sfDir))

  def dedupJaccard(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardPairsExact(docs(spark, sfDir),
      sharedShingles = Some(sharedShingles(spark, sfDir)))

  /** Per-doc corpus-unique-shingle novelty over the shared index. */
  def ngramNoveltyQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.ngramNovelty(sharedShingles(spark, sfDir))

  /** Stop-shingle df cap shared by the capped query and its oracle. */
  private val jaccardDfCap = 100

  /** The SCALE-SAFE exact-Jaccard path (VERDICT r7 #3): stop-shingle
    * pruning caps the pairing join's per-shingle cost (quadratic in
    * document frequency) at `jaccardDfCap`² instead of unbounded —
    * the form a 100 TB audit actually runs. Reported jaccards stay
    * exact (recomputed from the full arrays); only pairs whose EVERY
    * common shingle is boilerplate can be missed. The unpruned
    * `dedup_jaccard` stays registered as oracle ground truth.
    * Memoized: the capped path persists its pruned inverted index at
    * build time. */
  val dedupJaccardCapped: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "jaccardCappedPairs") {
      // persisted pair table, same rationale as dedupMinhash: the recall
      // audit consumes this exact frame as its reference set
      Dedup.jaccardPairsExact(docs(spark, sfDir),
        sharedShingles = Some(sharedShingles(spark, sfDir)),
        maxShingleDf = Some(jaccardDfCap))
    }

  /** One persisted 32-bit simhash frame per (session, sfDir): the
    * fingerprint query and the near-dup-pair query both consume it, and
    * the pair query reads it three times (banding + both verify sides) —
    * without sharing, each re-runs the token explode + 32-sum groupBy. */
  private def sharedSimhash(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "simhash32")(
      TextAnalysis.simhash(docs(spark, sfDir)))

  def textSimhash(spark: SparkSession, sfDir: String): DataFrame =
    sharedSimhash(spark, sfDir)

  val simhashPairs: (SparkSession, String) => DataFrame =
    memoized("simhashPairs") { (spark, sfDir) =>
      TextAnalysis.simhashNearDupPairsFrom(sharedSimhash(spark, sfDir))
    }

  def textStats(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.stats(docs(spark, sfDir))

  /** [[TextAnalysis.unicodeStats]] — the Unicode-tokenizer sibling of
    * text_stats (NFC + casefold + letter/digit-run split). */
  def textStatsUnicode(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.unicodeStats(docs(spark, sfDir))

  /** Verbatim the Spark pipeline: nfc_normalize → lower →
    * regexp_split_to_array on `[^\p{L}\p{N}]+` (a class with identical
    * Java-regex/RE2 semantics) → drop empty boundary tokens; ratios
    * NULL at zero tokens. (lazy: splices [[mtlSql]], which is defined
    * further down the object — an eager val here would interpolate a
    * still-null forward reference.) */
  lazy val textStatsUnicodeOracle: String =
    s"""WITH t AS (SELECT doc_id, text,
       |  list_filter(regexp_split_to_array(lower(nfc_normalize(text)),
       |    '[^\\p{L}\\p{N}]+'), s -> s <> '') AS toks
       |  FROM documents)
       |SELECT doc_id,
       |  length(nfc_normalize(text)) AS n_chars_nfc,
       |  len(toks) AS n_tokens,
       |  len(list_distinct(toks)) AS n_unique_tokens,
       |  CASE WHEN len(toks) > 0 THEN round($mtlSql, 6) END
       |    AS mean_token_len,
       |  CASE WHEN len(toks) > 0 THEN
       |    round(CAST(len(list_filter(toks, s ->
       |      regexp_full_match(s, '[a-z0-9]+'))) AS DOUBLE) / len(toks), 6)
       |  END AS latin_ratio
       |FROM t""".stripMargin

  def corpusStats(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.corpusStats(docs(spark, sfDir))

  /** Corpus snapshot diff (r18): documents vs a deterministically
    * mutated "next release" — doc_id % 7 == 0 removed, % 11 == 3
    * edited (marker token appended), % 13 == 5 re-added under
    * doc_id + 10^9 (far past any sf dir's id range — a small offset
    * would collide with live ids at larger corpora and fan the
    * full-outer join out to contradictory status rows, review r18) —
    * so every status arm is populated and the whole fixture replays in
    * the oracle verbatim. */
  val corpusDiffQ: (SparkSession, String) => DataFrame =
    memoized("corpusDiff") { (spark, sfDir) =>
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      val d = docs(spark, sfDir)
      val next = d.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 3,
          concat(col("text"), lit(" r18edit"))).otherwise(col("text")))
        .unionByName(d.filter(col("doc_id") % 13 === 5)
          .withColumn("doc_id", col("doc_id") + lit(1000000000L)))
      TextAnalysis.corpusDiff(d, next)
    }

  /** Replicates [[graft.text.TextAnalysis.corpusDiff]] over the same
    * mutated-snapshot fixture: md5 content keys, full-outer join on
    * doc_id, new side wins the source for changed docs. Presence comes
    * from the per-side constant marker (`1 AS p`), not the hash's
    * nullability, and the hash compare is null-safe — so a NULL-text
    * row diffs by where the ROW is, matching the Spark side (ADVICE
    * r18). */
  val corpusDiffOracle: String =
    """WITH olds AS (SELECT doc_id, source, 1 AS p, md5(text) h,
      |  CAST(len(string_split(text, ' ')) AS INT) toks FROM documents),
      |news0 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 11 = 3 THEN text || ' r18edit' ELSE text END
      |      AS text,
      |    source FROM documents WHERE doc_id % 7 <> 0
      |  UNION ALL
      |  SELECT doc_id + 1000000000, text, source FROM documents
      |  WHERE doc_id % 13 = 5),
      |news AS (SELECT doc_id, source, 1 AS p, md5(text) h,
      |  CAST(len(string_split(text, ' ')) AS INT) toks FROM news0)
      |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
      |  COALESCE(n.source, o.source) AS source,
      |  CASE WHEN o.p IS NULL THEN 'added'
      |       WHEN n.p IS NULL THEN 'removed'
      |       WHEN o.h = n.h OR (o.h IS NULL AND n.h IS NULL)
      |         THEN 'unchanged'
      |       ELSE 'changed' END AS status,
      |  o.toks AS old_tokens, n.toks AS new_tokens
      |FROM olds o FULL OUTER JOIN news n ON n.doc_id = o.doc_id""".stripMargin

  def docSplit(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.splitSummary(docs(spark, sfDir))

  /** Per-source length-distribution profile (exact quantiles). */
  def docLengthQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.quantiles(docs(spark, sfDir), "n_chars", "source")

  /** The quantile profile's declared 100 TB escape hatch
    * (`percentile_approx`, fixed-size partials) — bench-row-only, no
    * oracle (sketch values are engine-specific); tolerance vs exact
    * pinned in TextAnalysisSpec. */
  def docLengthQuantilesApprox(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Profile.quantiles(docs(spark, sfDir), "n_chars", "source",
      exact = false)

  /** Top-3 longest docs per source (deterministic: doc_id tie-break);
    * the rank filter must plan a map-side WindowGroupLimit — asserted
    * in PlanShapeSpec. */
  def topDocsPerSource(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.TopK.perGroup(docs(spark, sfDir), "source",
      Seq(col("n_chars").desc, col("doc_id").asc), k = 3)
      .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
  }

  /** Per-label embedding L2-norm distribution profile. */
  def embeddingNormProfile(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.normProfile(embs(spark, sfDir))

  /** Per-source quality drilldown — "which feed is garbage": gate
    * reject reasons counted per source. Composes the verified gate
    * (passThrough carries source with no extra join). */
  def qualityBySource(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityGate(docs(spark, sfDir), passThrough = Seq("source"))
      .groupBy("source", "reason")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"))

  /** One PERSISTED (doc, tri, count) char-trigram frame per (session,
    * sfDir) — the [[docTokenCounts]] discipline at character grain,
    * shared by the lang-id trainer and scorer so the trigram explode
    * runs once. */
  val docTriCounts: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "docTriCounts")(
      TextAnalysis.docTrigramCounts(docs(spark, sfDir)))

  /** The trained lang-id weight tables (r20), resolved once per
    * (session, corpus) — the pqCodebook train-once contract. */
  private def lidWeights(spark: SparkSession,
                         sfDir: String): Map[String, Array[Long]] =
    SharedFrames.memoValue(spark, sfDir, "lidWeights") {
      TextAnalysis.trainLangIdWeights(docs(spark, sfDir),
        sharedTri = Some(docTriCounts(spark, sfDir)))
    }

  /** Language-ID confusion matrix: labeled lang × predicted lang — the
    * classifier-trust audit before the labels drive mixing/filtering.
    * r20: grades the TRAINED classifier (the marker heuristic stays as
    * `lang_id_marker`, the measured baseline). */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langIdQ(spark, sfDir)
      .select("doc_id", "predicted_lang")
      .join(docs(spark, sfDir).select("doc_id", "lang"), Seq("doc_id"))
      .groupBy(org.apache.spark.sql.functions.col("lang").as("label_lang"),
        org.apache.spark.sql.functions.col("predicted_lang"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_docs"))

  /** Trained hashed char-trigram NB language ID (r20) — the r19 ask:
    * the registered lang_id is now the fitted classifier; fit replayed
    * as CTEs like the quality classifier. Memoized: weight training
    * collects ≤ |langs|·nBuckets rows at build. */
  val langIdQ: (SparkSession, String) => DataFrame =
    memoized("langIdTrained") { (spark, sfDir) =>
      TextAnalysis.langIdTrained(docs(spark, sfDir),
        sharedTri = Some(docTriCounts(spark, sfDir)),
        weights = Some(lidWeights(spark, sfDir)))
    }

  /** The marker-stopword heuristic — kept registered as the baseline
    * `lang_confusion`'s diagonal is measured against. */
  def langIdMarkerQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.langId(docs(spark, sfDir))

  def qualityGateQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.qualityGate(docs(spark, sfDir))

  /** One PERSISTED (doc, token, count) frame per (session, sfDir) — the
    * ONE occurrence-grain shuffle shared by doc_logprob, doc_entropy,
    * tfidf_topterms and vocab_topk; each consumer folds its vocab-sized
    * model from it. Persisted like [[sharedShingles]] (not the
    * unpersisted `memoized` result cells): without materialization each
    * consumer would re-run the corpus tokenize+explode+shuffle and the
    * sharing would be nominal. */
  val docTokenCounts: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "docTokenCounts")(
      TextAnalysis.docTokenCounts(docs(spark, sfDir)))

  /** TRAINED classifier weights, once per (session, sfDir) — the
    * production contract (a quality model trains once and scores every
    * batch): hashed-unigram Naive Bayes log-odds fit on the bounded
    * hash-ordered sample, target class `lang = 'en'` (the
    * target-language labeling a corpus filter starts from; the labels
    * come free from the corpus metadata, the classic weak-supervision
    * setup). Replayed relationally by [[qualityClassifierTrainCte]]. */
  private def qclsWeights(spark: SparkSession, sfDir: String): Array[Long] =
    SharedFrames.memoValue(spark, sfDir, "qclsWeights") {
      import org.apache.spark.sql.functions.col
      TextAnalysis.trainNbWeights(docs(spark, sfDir), col("lang") === "en",
        sharedTf = Some(docTokenCounts(spark, sfDir)))
    }

  /** The model-based quality filter over the shared token frame, scored
    * under the TRAINED weights; the broadcast weight table is a memoized
    * driver value, so no frame memo. */
  def qualityClassifierQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.hashedLinearScore(docs(spark, sfDir),
      sharedTf = Some(docTokenCounts(spark, sfDir)),
      weights = Some(qclsWeights(spark, sfDir)))

  /** The LOGISTIC-REGRESSION weights (µ-int SGD over the same bounded
    * sample — [[TextAnalysis.trainLrWeights]]), once per (session,
    * sfDir): the epoch count and learning rate are baked into the
    * epoch-unrolled oracle CTEs, so they live here as the registered
    * point. */
  private val qclsLrEpochs = 4
  private val qclsLrRate = 256L
  private def qclsLrWeights(spark: SparkSession, sfDir: String): Array[Long] =
    SharedFrames.memoValue(spark, sfDir, "qclsLrWeights") {
      import org.apache.spark.sql.functions.col
      TextAnalysis.trainLrWeights(docs(spark, sfDir), col("lang") === "en",
        sharedTf = Some(docTokenCounts(spark, sfDir)),
        epochs = qclsLrEpochs, lr = qclsLrRate)
    }

  /** The quality filter scored under the LR-trained weights — the same
    * deployed operator as quality_classifier, model swapped (the
    * plan-shape-invariance contract: trained weights are data). */
  def qualityClassifierLrQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.hashedLinearScore(docs(spark, sfDir),
      sharedTf = Some(docTokenCounts(spark, sfDir)),
      weights = Some(qclsLrWeights(spark, sfDir)))

  /** Held-out separation receipt for the trained classifier (mean logit
    * per class + exact tie-aware AUC over the non-train documents). */
  def qualityClassifierEvalQ(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    TextAnalysis.classifierEval(docs(spark, sfDir), col("lang") === "en",
      sharedTf = Some(docTokenCounts(spark, sfDir)),
      weights = Some(qclsWeights(spark, sfDir)))
  }

  /** The LR model's held-out receipt — same eval, LR weights. */
  def qualityClassifierLrEvalQ(spark: SparkSession, sfDir: String)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    TextAnalysis.classifierEval(docs(spark, sfDir), col("lang") === "en",
      sharedTf = Some(docTokenCounts(spark, sfDir)),
      weights = Some(qclsLrWeights(spark, sfDir)))
  }

  /** DSIR importance weights over the shared token frame. The target
    * slice is the 'en' half of one source — standing in for the small
    * curated reference corpus (wiki/books) a production run would pass.
    * Memoized since r21: `dsir_weights` and `dsir_select`'s admission
    * both consume the scored frame (doc-grain, four narrow columns),
    * so the two model fits + scoring joins run once per session. */
  private def dsirWeightsShared(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "dsirWeights")(
      TextAnalysis.dsirWeights(docs(spark, sfDir),
        docs(spark, sfDir)
          .filter("lang = 'en' AND source = 'src0'"),
        sharedTf = Some(docTokenCounts(spark, sfDir))))

  def dsirWeightsQ(spark: SparkSession, sfDir: String): DataFrame =
    dsirWeightsShared(spark, sfDir)

  /** DSIR-prioritized token-budget selection (r19): the importance-fill
    * admission over the same target slice as `dsir_weights` — most
    * target-like documents fill each source's budget first. Memoized:
    * the two-pass admission aux-persists its range-partitioned frame. */
  val dsirSelectQ: (SparkSession, String) => DataFrame =
    memoized("dsirSelect") { (spark, sfDir) =>
      TextAnalysis.dsirSelectTokenBudget(docs(spark, sfDir),
        docs(spark, sfDir).filter("lang = 'en' AND source = 'src0'"),
        sharedTf = Some(docTokenCounts(spark, sfDir)),
        sharedWeights = Some(dsirWeightsShared(spark, sfDir)))
    }

  /** Replicates [[graft.text.TextAnalysis.dsirSelectTokenBudget]]: the
    * dsir_weights oracle supplies the identical 6-dp-rounded priority
    * values; the serial per-source window replays the two-pass prefix,
    * strict before < budget greedy. */
  lazy val dsirSelectOracle: String =
    s"""WITH w AS ($dsirWeightsOracle),
       |sd AS (SELECT w.doc_id, dd.source, w.n_tokens, w.avg_log_ratio
       |  FROM w JOIN documents dd ON dd.doc_id = w.doc_id),
       |c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
       |    PARTITION BY source ORDER BY avg_log_ratio DESC, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |  AS before_tokens FROM sd)
       |SELECT doc_id, source, n_tokens, avg_log_ratio, before_tokens,
       |  before_tokens < 800 AS selected
       |FROM c""".stripMargin

  /** Memoized: unigramLogProb persists its vocabulary frequency frame at
    * build time (ADVICE r6 — un-memoized, every warmup + timed rep
    * stacked a fresh persisted vocab copy for the session lifetime). */
  val docLogprob: (SparkSession, String) => DataFrame =
    memoized("docLogprob") { (spark, sfDir) =>
      TextAnalysis.unigramLogProb(docs(spark, sfDir),
        sharedTf = Some(docTokenCounts(spark, sfDir)))
    }

  /** Memoized for the same persisted-model reason as doc_logprob. */
  val docLogprobBigram: (SparkSession, String) => DataFrame =
    memoized("docLogprobBigram") { (spark, sfDir) =>
      TextAnalysis.bigramLogProb(docs(spark, sfDir))
    }

  def docRepetition(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.repetitionStats(docs(spark, sfDir))

  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.bpeMergeCandidates(docs(spark, sfDir))

  /** Rounds the registered BPE trainer runs — small enough for the
    * unrolled oracle CTEs, large enough that the vocabulary visibly
    * restructures (the r14 loop ask). Shared by query and oracle. */
  private val bpeTrainRounds = 8

  /** ONE persisted (word, __wc) vocabulary per (session, sfDir) — the
    * BPE family's single corpus-scale tokenize+shuffle, shared by the
    * trainer, the dictionary and the rollup (review finding r14: each
    * previously re-ran its own corpus pass). */
  private def bpeWordCounts(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "bpeWordCounts")(
      TextAnalysis.wordCounts(docs(spark, sfDir)))

  /** The TRAINED merge list, once per (session, sfDir) — the
    * [[pqCodebook]] train-once-serve-many contract on the tokenizer
    * side: `bpe_vocab` publishes it, `bpe_encode` tokenizes under it. */
  private def bpeMergesTrained(spark: SparkSession, sfDir: String)
      : Seq[TextAnalysis.BpeMerge] =
    SharedFrames.memoValue(spark, sfDir, "bpeMerges8") {
      // batch = the full round count: the batched trainer is proven
      // merge-identical to sequential (TextAnalysis.admitBatch), so the
      // registered query exercises the production batching path while
      // the sequential-unrolled oracle CTEs stay valid verbatim
      TextAnalysis.bpeTrain(docs(spark, sfDir), nMerges = bpeTrainRounds,
        sharedVocab = Some(bpeWordCounts(spark, sfDir)),
        batch = bpeTrainRounds)
    }

  /** The learned merge table (rank, pair, winning count) — the BPE
    * TRAINING LOOP's registered output ([[TextAnalysis.bpeTrain]]); the
    * oracle unrolls the same rounds as CTEs. */
  def bpeVocabQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    bpeMergesTrained(spark, sfDir)
      .map(m => (m.rank, m.symA, m.symB, m.nOccurrences))
      .toDF("merge_rank", "sym_a", "sym_b", "n_occurrences")
  }

  /** The SAME merge table trained through the incremental pair-count
    * maintenance path (delta off the affected slice instead of a
    * per-round vocabulary recount — the r16 2.05× deep-merge-list win).
    * Merge-list identity to the recount trainer IS the claim, so this
    * query shares [[bpeVocabOracle]] VERBATIM — the full-outer-join
    * delta path earns a value-verified CORRECTNESS row every round
    * (r16 verdict ask #4), not only its fuzz/ladder pins. Deliberately
    * NOT memo-shared with [[bpeMergesTrained]]: sharing the value would
    * skip the path under test. */
  def bpeVocabIncrementalQ(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    SharedFrames.memoValue(spark, sfDir, "bpeMerges8Incremental") {
      TextAnalysis.bpeTrain(docs(spark, sfDir), nMerges = bpeTrainRounds,
        sharedVocab = Some(bpeWordCounts(spark, sfDir)),
        batch = bpeTrainRounds, incremental = true)
    }.map(m => (m.rank, m.symA, m.symB, m.nOccurrences))
      .toDF("merge_rank", "sym_a", "sym_b", "n_occurrences")
  }

  /** Corpus symbol counts under the TRAINED vocab — tokenization with
    * learned merges, rolled up to the top-40 symbol table (ties to the
    * lexicographically smaller symbol). Uses the vocabulary-grain
    * rollup ([[TextAnalysis.bpeSymbolCounts]]); the doc-grain
    * [[TextAnalysis.bpeEncode]] is the library surface for per-document
    * consumers (value parity spec-pinned). */
  val bpeEncodeQ: (SparkSession, String) => DataFrame =
    memoized("bpeEncode") { (spark, sfDir) =>
      import org.apache.spark.sql.functions.col
      TextAnalysis.bpeSymbolCounts(docs(spark, sfDir),
          bpeMergesTrained(spark, sfDir),
          sharedVocab = Some(bpeWordCounts(spark, sfDir)))
        .orderBy(col("n_occurrences").desc, col("sym"))
        .limit(40)
    }

  /** The trained word→symbols DICTIONARY, one persisted copy per
    * (session, sfDir) — vocabulary-sized, shared by every consumer that
    * tokenizes under the learned vocab (doc tokens, fertility); without
    * the memo each query re-runs the nMerges-fold dictionary build. */
  private def bpeDict(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "bpeDict")(
      TextAnalysis.bpeDictionary(docs(spark, sfDir),
        bpeMergesTrained(spark, sfDir),
        sharedVocab = Some(bpeWordCounts(spark, sfDir))))

  /** Per-document token counts under the TRAINED vocab — the budget
    * number downstream packing/length gates re-base onto the learned
    * subwords ([[TextAnalysis.bpeTokenCounts]] over the broadcast
    * dictionary). */
  val bpeDocTokensQ: (SparkSession, String) => DataFrame =
    memoized("bpeDocTokens") { (spark, sfDir) =>
      TextAnalysis.bpeTokenCounts(docs(spark, sfDir), bpeDict(spark, sfDir))
    }

  /** Tokenizer fertility per source under the TRAINED vocab — the
    * compression (chars/token) and fertility (tokens/word) numbers a
    * pipeline reads before committing to a tokenizer
    * ([[TextAnalysis.bpeFertility]] over the broadcast dictionary). */
  val bpeFertilityQ: (SparkSession, String) => DataFrame =
    memoized("bpeFertility") { (spark, sfDir) =>
      TextAnalysis.bpeFertility(docs(spark, sfDir), bpeDict(spark, sfDir))
    }

  /** The BPE training loop unrolled as DuckDB CTEs — round t reads
    * vocabulary v{t-1} (words as space-prefixed symbol strings), counts
    * adjacent symbol pairs weighted by word count (p{t}), takes the
    * winner under the (count DESC, a, b) tie (t{t}), and applies it with
    * the same greedy left-to-right non-overlapping fold as the Spark
    * side — `list_reduce` over space-prefixed symbols, where a
    * freshly-merged tail never re-matches (5×"a" under (a,a) →
    * [aa, aa, a]), boundary-safe because symbols cannot contain the
    * space separator (the tokenizer splits on it). */
  private def bpeRoundCtes(n: Int): String = {
    val v0 =
      """v0 AS (SELECT array_to_string(list_transform(range(length(word)),
        |    i -> ' ' || substr(word, i + 1, 1)), '') AS w, wc
        |  FROM (SELECT word, count(*) AS wc FROM (
        |      SELECT unnest(string_split(text, ' ')) AS word FROM documents) z
        |    GROUP BY word))""".stripMargin
    val rounds = (1 to n).map { t =>
      s"""p$t AS (SELECT l[i + 1] AS a, l[i + 2] AS b,
         |    CAST(sum(wc) AS BIGINT) AS c
         |  FROM (SELECT l, wc, unnest(range(len(l) - 1)) AS i FROM (
         |      SELECT string_split(substr(w, 2), ' ') AS l, wc
         |      FROM v${t - 1} WHERE w <> '') y) z
         |  GROUP BY a, b),
         |t$t AS (SELECT a, b, c FROM p$t ORDER BY c DESC, a, b LIMIT 1),
         |v$t AS (SELECT CASE WHEN w = '' OR t.a IS NULL THEN w ELSE
         |    list_reduce(list_transform(string_split(substr(w, 2), ' '),
         |        s -> ' ' || s),
         |      (acc, x) -> CASE WHEN x = ' ' || t.b AND ends_with(acc, ' ' || t.a)
         |        THEN left(acc, length(acc) - length(t.a) - 1) || ' ' || t.a || t.b
         |        ELSE acc || x END) END AS w, wc
         |  FROM v${t - 1} LEFT JOIN t$t t ON true)""".stripMargin
    }
    (v0 +: rounds).mkString(",\n")
  }

  /** Replays [[TextAnalysis.bpeTrain]] at the registered round count. */
  val bpeVocabOracle: String = {
    val unions = (1 to bpeTrainRounds).map(t =>
      s"SELECT CAST($t AS INT) AS merge_rank, a AS sym_a, b AS sym_b, " +
        s"c AS n_occurrences FROM t$t").mkString("\nUNION ALL ")
    s"""WITH ${bpeRoundCtes(bpeTrainRounds)}
       |$unions""".stripMargin
  }

  /** The word→symbols DICTIONARY rebuilt in SQL: each learned merge
    * t{t} applied to every DISTINCT word's spaced symbol string (the
    * same list_reduce greedy fold the training CTEs use) — w0..wN CTEs
    * shared by the doc-tokens and fertility oracles, plus `dt` (the
    * per-doc token rows) and `pdt` (per-doc subword counts; an empty
    * word counts 0 but keeps its doc's row). */
  private def bpeDictCtes: String = {
    val dictRounds = (1 to bpeTrainRounds).map { t =>
      s"""w$t AS (SELECT word, CASE WHEN w = '' OR t.a IS NULL THEN w ELSE
         |    list_reduce(list_transform(string_split(substr(w, 2), ' '),
         |        s -> ' ' || s),
         |      (acc, x) -> CASE WHEN x = ' ' || t.b AND ends_with(acc, ' ' || t.a)
         |        THEN left(acc, length(acc) - length(t.a) - 1) || ' ' || t.a || t.b
         |        ELSE acc || x END) END AS w
         |  FROM w${t - 1} LEFT JOIN t$t t ON true)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS (SELECT word, array_to_string(list_transform(range(length(word)),
       |    i -> ' ' || substr(word, i + 1, 1)), '') AS w
       |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS word
       |        FROM documents WHERE text IS NOT NULL) z),
       |$dictRounds,
       |dt AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |pdt AS (SELECT dt.doc_id, CAST(sum(CASE WHEN d.w = '' THEN 0
       |    ELSE len(string_split(substr(d.w, 2), ' ')) END) AS BIGINT)
       |    AS n_subword_tokens
       |  FROM dt JOIN w$bpeTrainRounds d USING (word)
       |  GROUP BY dt.doc_id)""".stripMargin
  }

  /** Replays [[bpeDocTokensQ]] via the shared dictionary CTEs. */
  val bpeDocTokensOracle: String =
    s"""WITH ${bpeRoundCtes(bpeTrainRounds)},
       |$bpeDictCtes
       |SELECT doc_id, n_subword_tokens FROM pdt""".stripMargin

  /** Replays [[bpeFertilityQ]]: the per-doc subword counts joined back
    * to documents for the per-source char/word sides, ratios on the
    * µ-int grid (identical operand order to the Spark side). */
  val bpeFertilityOracle: String =
    s"""WITH ${bpeRoundCtes(bpeTrainRounds)},
       |$bpeDictCtes,
       |pw AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nw FROM dt
       |  GROUP BY doc_id)
       |SELECT d.source, count(*) AS n_docs,
       |  CAST(sum(pdt.n_subword_tokens) AS BIGINT) AS n_subword_tokens,
       |  CASE WHEN sum(pdt.n_subword_tokens) > 0 THEN
       |    floor(CAST(sum(d.n_chars) AS DOUBLE)
       |      / sum(pdt.n_subword_tokens) * 1000000.0 + 0.5) / 1000000.0
       |  END AS chars_per_token,
       |  CASE WHEN sum(pw.nw) > 0 THEN
       |    floor(CAST(sum(pdt.n_subword_tokens) AS DOUBLE)
       |      / sum(pw.nw) * 1000000.0 + 0.5) / 1000000.0
       |  END AS tokens_per_word
       |FROM pdt JOIN pw USING (doc_id) JOIN documents d USING (doc_id)
       |GROUP BY d.source""".stripMargin

  /** Replays [[bpeEncodeQ]]: symbol counts over the final vocabulary
    * v$bpeTrainRounds, weighted by word count — identical to counting
    * per (doc, word occurrence) since the dictionary is word-keyed. */
  val bpeEncodeOracle: String =
    s"""WITH ${bpeRoundCtes(bpeTrainRounds)},
       |enc AS (SELECT unnest(string_split(substr(w, 2), ' ')) AS sym, wc
       |  FROM v$bpeTrainRounds WHERE w <> '')
       |SELECT sym, CAST(sum(wc) AS BIGINT) AS n_occurrences
       |FROM enc GROUP BY sym
       |ORDER BY n_occurrences DESC, sym LIMIT 40""".stripMargin

  /** Smallest per-source count, memoized per (session, corpus): both
    * source-mix variants fold the SAME scalar into their quota plans —
    * one probe job per session instead of one per invocation (r22,
    * guide §1.2). */
  private def minSourceN(spark: SparkSession, sfDir: String): Long =
    SharedFrames.memoValue(spark, sfDir, "minSourceN") {
      java.lang.Long.valueOf(TextAnalysis.minSourceCount(docs(spark, sfDir)))
    }.longValue()

  def sourceMix(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.uniformSourceMix(docs(spark, sfDir), fraction = 0.8,
      sharedMinN = Some(minSourceN(spark, sfDir)))

  def sourceMixTemperature(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.temperatureSourceMix(docs(spark, sfDir), alpha = 0.5,
      fraction = 0.9, sharedMinN = Some(minSourceN(spark, sfDir)))

  /** Epoch plan (r18): α=0.5-tempered per-source token targets over a
    * 30k-token training budget, decomposed into exact repeat factors —
    * the recipe table between `source_mix_temperature` (weights) and
    * `select_token_budget` (materialization). Memoized: the share
    * denominator is a bounded driver scalar folded at build. */
  val mixEpochPlanQ: (SparkSession, String) => DataFrame =
    memoized("mixEpochPlan") { (spark, sfDir) =>
      TextAnalysis.mixEpochPlan(docs(spark, sfDir))
    }

  /** Replicates [[graft.text.TextAnalysis.mixEpochPlan]]: the µ-int
    * tempered weight (floor(pow·1e6+0.5) — exact-int on both engines),
    * the order-proof int64 share denominator, and pure integer div/mod
    * for every emitted number. */
  val mixEpochPlanOracle: String =
    """WITH a AS (SELECT source,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) avail_tokens
      |  FROM documents WHERE text IS NOT NULL GROUP BY source),
      |p AS (SELECT source, avail_tokens,
      |  CAST(floor(pow(CAST(avail_tokens AS DOUBLE), 0.5) * 1e6 + 0.5)
      |    AS BIGINT) p6 FROM a),
      |s AS (SELECT CAST(sum(p6) AS BIGINT) tot FROM p),
      |t AS (SELECT source, avail_tokens,
      |  (30000 * p6) // tot AS target_tokens FROM p, s)
      |SELECT source, avail_tokens, target_tokens,
      |  target_tokens // avail_tokens AS full_epochs,
      |  target_tokens % avail_tokens AS rem_tokens,
      |  (target_tokens * 1000) // avail_tokens AS repeat_milli
      |FROM t""".stripMargin

  /** Epoch materialization (r19): the `mix_epoch_plan` repeat factors
    * composed with the `select_token_budget` admission order into the
    * epoch-stamped document manifest a trainer consumes — source
    * repeated full_epochs times (explode-sequence fan-out) plus the
    * remainder-token greedy subset at epoch = full_epochs. Memoized:
    * the plan's share denominator is a bounded driver scalar folded at
    * build; the admission aux-persists its range-partitioned frame. */
  val materializeEpochsQ: (SparkSession, String) => DataFrame =
    memoized("materializeEpochs") { (spark, sfDir) =>
      TextAnalysis.materializeEpochs(docs(spark, sfDir),
        sharedParts = Some(gatedParts(spark, sfDir)
          .filter(org.apache.spark.sql.functions.col("n_tokens").isNotNull)))
    }

  /** Replicates [[graft.text.TextAnalysis.materializeEpochs]]: the
    * mix_epoch_plan CTEs yield (full_epochs, rem_tokens) per source; the
    * full arm replays the integer repeat with
    * `unnest(generate_series(0, F-1))` (empty when F = 0, and guarded
    * F >= 1 on both sides); the remainder arm is the
    * select_token_budget admission — gate signals over the
    * NULL-text-filtered corpus the plan counted, serial-window prefix —
    * at budget rem_tokens. */
  /** [[materializeEpochsOracle]] parameterized by the document relation
    * (r20): `release_manifest` runs the SAME epoch lattice over the
    * CURATED corpus — one generator, so the raw and release forms can
    * never diverge on the materialization arithmetic. `docRel` may be a
    * table name or a parenthesized subquery. */
  def materializeEpochsOracleFrom(docRel: String): String =
    s"""WITH rdocs AS (SELECT * FROM $docRel zz),
       |a AS (SELECT source,
       |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) avail_tokens
       |  FROM rdocs WHERE text IS NOT NULL GROUP BY source),
       |p AS (SELECT source, avail_tokens,
       |  CAST(floor(pow(CAST(avail_tokens AS DOUBLE), 0.5) * 1e6 + 0.5)
       |    AS BIGINT) p6 FROM a),
       |s AS (SELECT CAST(sum(p6) AS BIGINT) tot FROM p),
       |pl AS (SELECT source,
       |  ((30000 * p6) // tot) // avail_tokens AS full_epochs,
       |  ((30000 * p6) // tot) % avail_tokens AS rem_tokens
       |  FROM p, s),
       |fl AS (SELECT d.doc_id, d.source,
       |    CAST(len(string_split(d.text, ' ')) AS INT) n_tokens,
       |    unnest(generate_series(0, pl.full_epochs - 1)) AS epoch
       |  FROM rdocs d JOIN pl USING (source)
       |  WHERE d.text IS NOT NULL AND pl.full_epochs >= 1),
       |g AS (${qualityGateOracleFrom(
              "(SELECT * FROM rdocs WHERE text IS NOT NULL)")}),
       |m AS (SELECT g.doc_id, d.source, g.n_tokens, g.rep_ratio,
       |    CASE WHEN g.keep THEN 0 ELSE 1 END AS pk
       |  FROM g JOIN rdocs d ON d.doc_id = g.doc_id),
       |c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
       |    PARTITION BY source ORDER BY pk, rep_ratio, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |  AS before_tokens FROM m),
       |rm AS (SELECT c.doc_id, c.source, c.n_tokens,
       |    pl.full_epochs AS epoch
       |  FROM c JOIN pl USING (source)
       |  WHERE c.before_tokens < pl.rem_tokens)
       |SELECT doc_id, source, n_tokens, epoch FROM fl
       |UNION ALL
       |SELECT doc_id, source, n_tokens, epoch FROM rm""".stripMargin

  lazy val materializeEpochsOracle: String =
    materializeEpochsOracleFrom("documents")

  /** Epoch-packed sequences (r19): the [[materializeEpochsQ]] manifest
    * cut into per-epoch fixed-length training sequences under the
    * seeded per-epoch shuffle — the recipe → manifest → trainer-input
    * chain's last step. Memoized; consumes the memoized manifest, so
    * the plan/admission work is never recomputed. */
  val packEpochSequencesQ: (SparkSession, String) => DataFrame =
    memoized("packEpochSequences") { (spark, sfDir) =>
      TextAnalysis.packEpochSequences(materializeEpochsQ(spark, sfDir))
    }

  /** Replicates [[graft.text.TextAnalysis.packEpochSequences]] over the
    * materializer oracle's manifest: the md5(epoch:doc_id) shuffle key,
    * a per-epoch serial prefix (replaying the two-pass value for
    * value), and the packSequences segment fan-out at seqLen 512. */
  lazy val packEpochSequencesOracle: String =
    s"""WITH mf AS ($materializeEpochsOracle),
       |mo AS (SELECT *, md5(CAST(epoch AS VARCHAR) || ':'
       |    || CAST(doc_id AS VARCHAR)) AS ord FROM mf),
       |c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
       |    PARTITION BY epoch ORDER BY ord, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |  AS s0 FROM mo),
       |seg AS (SELECT epoch, doc_id, source, n_tokens, s0,
       |    s0 + n_tokens AS e0,
       |    unnest(generate_series(CAST(floor(s0 / 512.0) AS BIGINT),
       |      CAST(floor((s0 + n_tokens - 1) / 512.0) AS BIGINT))) AS seq_id
       |  FROM c WHERE n_tokens > 0)
       |SELECT epoch, doc_id, source, n_tokens, seq_id,
       |  GREATEST(s0, seq_id * 512) - seq_id * 512 AS seq_offset,
       |  GREATEST(s0, seq_id * 512) - s0 AS doc_offset,
       |  LEAST(e0, (seq_id + 1) * 512) - GREATEST(s0, seq_id * 512)
       |    AS seg_tokens
       |FROM seg""".stripMargin

  /** Manifest-vs-plan realization audit (r19): per plan source, the
    * realized token mass against the target, with the one-document
    * overflow invariant queryable (0 ≤ overflow < max doc tokens).
    * Consumes both memoized frames — zero recomputation. */
  val epochManifestAuditQ: (SparkSession, String) => DataFrame =
    memoized("epochManifestAudit") { (spark, sfDir) =>
      TextAnalysis.epochManifestAudit(materializeEpochsQ(spark, sfDir),
        mixEpochPlanQ(spark, sfDir))
    }

  /** Replicates [[graft.text.TextAnalysis.epochManifestAudit]]: the
    * plan CTEs + the materializer CTEs, one per-source rollup, LEFT
    * join back onto the plan with zero-coalesced absent sources. */
  lazy val epochManifestAuditOracle: String =
    s"""WITH mf AS ($materializeEpochsOracle),
       |pn AS ($mixEpochPlanOracle),
       |ag AS (SELECT mf.source,
       |    CAST(sum(mf.n_tokens) AS BIGINT) rt,
       |    CAST(count(*) AS BIGINT) nr,
       |    CAST(sum(CASE WHEN mf.epoch = pn.full_epochs THEN 1 ELSE 0 END)
       |      AS BIGINT) nrem
       |  FROM mf JOIN pn USING (source) GROUP BY mf.source)
       |SELECT pn.source, pn.target_tokens,
       |  COALESCE(ag.rt, 0) AS realized_tokens,
       |  COALESCE(ag.rt, 0) - pn.target_tokens AS overflow_tokens,
       |  pn.full_epochs, pn.rem_tokens,
       |  COALESCE(ag.nr, 0) AS n_rows,
       |  COALESCE(ag.nrem, 0) AS n_remainder_docs
       |FROM pn LEFT JOIN ag USING (source)""".stripMargin

  /** Release manifest (r20) — the data-release composition the r19
    * verdict asked for: a real release feeds the CURATED corpus (the
    * full [[curateCorpusSemantic]] stage stack) into the epoch chain,
    * not raw ingest. Same operator, curated input: per-source tempered
    * targets, full-epoch fan-out and remainder admission all run over
    * the semantic-curated survivors only, so the manifest IS the
    * trainer-ready document list of the shipped corpus. Memoized; the
    * curated id set is the already-memoized frame every curate query
    * shares. */
  val releaseManifestQ: (SparkSession, String) => DataFrame =
    memoized("releaseManifest") { (spark, sfDir) =>
      // The remainder admission's gate-priority frame is the RAW
      // corpus's memoized gatedParts filtered to the curated ids (r21):
      // every gate signal is a pure per-row function, so gating the
      // curated subset ≡ filtering the raw gated rows, and the two-pass
      // prefix sum only needs order-compatible partitions — the raw
      // range partitioning restricted to a subset still is. Saves the
      // second gate scan + range sampling + shuffle the release chain
      // used to pay (the curate_funnel build's dominant cost).
      val curatedIds = curateCorpusSemantic(spark, sfDir).select("doc_id")
      TextAnalysis.materializeEpochs(
        docs(spark, sfDir).join(curatedIds, "doc_id"),
        sharedParts = Some(gatedParts(spark, sfDir)
          .filter(org.apache.spark.sql.functions.col("n_tokens").isNotNull)
          .join(curatedIds, "doc_id")))
    }

  /** [[materializeEpochsOracleFrom]] over the curated-survivor relation
    * — the stage-oracle nesting discipline of curate_corpus_semantic
    * (its full oracle is the id filter). lazy: the semantic oracle
    * chain initializes later in the object. */
  lazy val releaseManifestOracle: String = materializeEpochsOracleFrom(
    s"""(SELECT d.* FROM documents d
       |  JOIN ($curateCorpusSemanticOracle) ccs ON ccs.doc_id = d.doc_id)"""
      .stripMargin)

  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.stratifiedSample(docs(spark, sfDir))

  def docChunks(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tokenChunks(docs(spark, sfDir))

  /** One ranked exact-cosine neighbor list per (session, sfDir) — the
    * brute-force top-10 for the 8-query set. Four consumers share it
    * (similarity_topk at k = 5, hybrid_rrf's vector arm at k = 10, the
    * knn label audit and the recall audit's reference set at k = 5):
    * `row_number` ranks are cut-stable — `rank <= 5` of the k = 10 list
    * IS the k = 5 list, same window, same (cosine desc, neighbor_id)
    * tiebreak — so ONE scoring pass over the corpus serves all four
    * where r20 ran three (guide §1.2: remove repeated passes). */
  private def bruteRanked10(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "bruteRanked10")(
      Similarity.bruteForceTopK(embs(spark, sfDir), nQueries = 8, k = 10))

  def similarityTopK(spark: SparkSession, sfDir: String): DataFrame =
    bruteRanked10(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("rank") <= 5)

  def knnLabelAuditQ(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.knnLabelAudit(embs(spark, sfDir), nQueries = 8, k = 5,
      neighbors = Some(similarityTopK(spark, sfDir)))

  /** One ranked BM25 candidate list per (session, sfDir) — the k = 10
    * more-like-this scoring pass (8 query docs, 5 TF-IDF terms each)
    * off the shared token frame. bm25_topk (k = 5) and hybrid_rrf's
    * lexical arm (k = 10) both consume it via the same cut-stable
    * `rank <=` filter as [[bruteRanked10]], so the corpus-side scoring
    * join runs once per session instead of once per query. */
  private def bm25Ranked10(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "bm25Ranked10")(
      Retrieval.bm25MoreLikeThis(docs(spark, sfDir), k = 10,
        sharedTf = Some(docTokenCounts(spark, sfDir))))

  /** BM25 more-like-this off the shared token frame (8 query docs, 5
    * TF-IDF query terms each, top-5). */
  def bm25TopkQ(spark: SparkSession, sfDir: String): DataFrame =
    bm25Ranked10(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("rank") <= 5)

  /** Hybrid lexical ⊕ vector retrieval: RRF-fuse the BM25 and cosine
    * top-10 lists for the same 8 query docs (doc_id ≡ vec_id by the
    * generator's construction, asserted by embedding_coverage) into a
    * hybrid top-5. */
  def hybridRrfQ(spark: SparkSession, sfDir: String): DataFrame =
    Retrieval.rrfFuse(
      bm25Ranked10(spark, sfDir),
      bruteRanked10(spark, sfDir))

  val similarityAnn: (SparkSession, String) => DataFrame =
    memoized("similarityAnn") { (spark, sfDir) =>
      val cfg = Similarity.annDefaults
      // expectedDim: the registered oracle bakes planes of width cfg.dim
      // into literal SQL — a corpus with a different width must fail here,
      // not as an opaque driver-gate value mismatch (ADVICE r5)
      Similarity.lshTopK(embs(spark, sfDir), nQueries = cfg.nQueries, k = cfg.k,
        bits = cfg.bits, tables = cfg.tables, seed = cfg.seed,
        expectedDim = Some(cfg.dim))
    }

  /** Deterministic IVF (r7; coarse quantizer Lloyd-TRAINED r13): the
    * hash-sampled centroids were k-means init without refinement — now
    * they get the same deterministic µ-int Lloyd rounds the PQ
    * sub-codebooks got in r12, so the query is fully oracle-checkable
    * AND trained (`Similarity.ivfCentsCteSql` replays the training) —
    * `Similarity.ivfTopK` (ML k-means) stays in the library as the
    * refit-capable variant. Memoized: the centroid sample/train collects
    * run at build time, shared across the IVF family via [[ivfCells]]. */
  val similarityIvf: (SparkSession, String) => DataFrame =
    memoized("similarityIvf") { (spark, sfDir) =>
      Similarity.ivfHashTopK(embs(spark, sfDir), nQueries = 8, k = 5,
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** ANN recall audit (r11, widened r12): per-(method, query) recall@5
    * of the approximate indexes — IVF, full-scan ADC over the PQ codes
    * (`pq` — codebook quality in isolation, no probe limit), IVF+PQ,
    * its exact-rerank refinement, and LSH — against the brute-force
    * exact top-k, the quality number a production index reports next to
    * its latency (ivfpq's gap to plain IVF at equal probes is the ADC
    * approximation; its gap to `pq` is the probe loss). Reuses the
    * memoized frames; exact count/count arithmetic, so the composed
    * oracle (the neighbor oracles nested verbatim) matches without
    * rounding hazard. */
  val annRecallAudit: (SparkSession, String) => DataFrame =
    memoized("annRecallAudit") { (spark, sfDir) =>
      import org.apache.spark.sql.functions.{col, lit}
      val brute = similarityTopK(spark, sfDir) // rank<=5 cut of the memo
      Seq(
        "ivf" -> similarityIvf(spark, sfDir),
        "ivf_d2" -> similarityIvfD2(spark, sfDir), // r14: the D²-seeded
                     // production-width config's recall under the gate
        "pq" -> similarityPq(spark, sfDir),
        "ivfpq" -> similarityIvfPq(spark, sfDir),
        "ivfpq_flat" -> similarityIvfPqFlat(spark, sfDir), // r20: the
                     // absolute-encoding baseline the residual default
                     // is measured against, under the same oracle gate
        "ivfpq_rerank" -> similarityIvfPqRerank(spark, sfDir),
        "lsh" -> similarityAnn(spark, sfDir))
        .map { case (m, approx) =>
          Similarity.recallAudit(approx, brute, k = 5)
            .withColumn("method", lit(m)) }
        .reduce(_ unionByName _)
        .select(col("method"), col("query_id"), col("recall_at_k"))
    }

  /** IVF over the cell-partitioned AT-REST layout (r11): same
    * deterministic centroids, probes, and re-rank as `similarity_ivf`,
    * but the candidates come from
    * [[graft.sources.TableLayout.embeddingsCellPartitioned]] — the
    * probed cell ids prune whole `cell=` directories at file LISTING
    * time (scan-metrics receipt in TableLayoutSpec), so the query reads
    * the probed fraction of the corpus instead of scanning everything
    * to recompute cells. Rows equal `similarity_ivf`'s exactly — served
    * by the same oracle. */
  val similarityIvfPruned: (SparkSession, String) => DataFrame =
    memoized("similarityIvfPruned") { (spark, sfDir) =>
      val layout = spark.read.parquet(
        graft.sources.TableLayout.embeddingsCellPartitioned(spark, sfDir))
      Similarity.ivfHashTopKPruned(embs(spark, sfDir), layout,
        nQueries = 8, k = 5, cells = Some(ivfCells(spark, sfDir)))
    }

  /** JL random projection (map-side, no shuffle) and its distortion
    * audit over the smallest-id sample; dim pinned by RpConfig so a
    * drifted corpus fails loudly, not as an oracle value mismatch.
    * Registered in exploded (vec_id, comp, value) form — the driver's
    * compare hashes scalar cells, not arrays; the array-valued operator
    * is the library surface. */
  def embeddingRp(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.posexplode
    Similarity.randomProjection(embs(spark, sfDir))
      .select(org.apache.spark.sql.functions.col("vec_id"),
        posexplode(org.apache.spark.sql.functions.col("rp")))
      .toDF("vec_id", "comp", "value")
  }

  def rpDistortion(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.rpDistortionAudit(embs(spark, sfDir))

  /** Memoized: the per-dim range aggregation runs at build time. */
  val embeddingQuantize: (SparkSession, String) => DataFrame =
    memoized("embeddingQuantize") { (spark, sfDir) =>
      Similarity.scalarQuantize(embs(spark, sfDir))
    }

  /** Memoized WITH persistence, unlike the persist=false memos: the PQ
    * assignment is the one registry plan whose EXPRESSION is expensive to
    * materialize per run — the m·k unrolled distance chains Janino-compile
    * in seconds (data-dependent codebook literals defeat the codegen
    * cache across scale dirs) — and `similarity_pq` serves off the codes
    * rows, exactly how a production index stores codes once and searches
    * them many times. The codes table is m ints + an error per vector —
    * the smallest frame in the registry. (Codebook LIMIT-k sample also
    * collects at build time.) */
  /** The trained PQ codebook, resolved ONCE per (session, corpus) and
    * passed to every PQ query below — how a production index works: the
    * codebook (sample + Lloyd rounds, [[Similarity.trainPqCodebook]]) is
    * built at index time and every assignment/search pass reuses it.
    * Without the share, each of the seven PQ queries would re-collect
    * and re-train identically. */
  private def pqCodebook(spark: SparkSession, sfDir: String): Array[Seq[Double]] =
    SharedFrames.memoValue(spark, sfDir, "pqCodebook") {
      Similarity.codebook(embs(spark, sfDir))
    }

  /** The Lloyd-trained IVF coarse centroids (r13), resolved ONCE per
    * (session, corpus) — the coarse-quantizer half of [[pqCodebook]]'s
    * train-once-serve-many contract, shared by every IVF-family query
    * below so none re-collects and re-trains identically. */
  private def ivfCells(spark: SparkSession,
                       sfDir: String): Array[(Long, Seq[Double], Double)] =
    SharedFrames.memoValue(spark, sfDir, "ivfCells") {
      Similarity.ivfCells(embs(spark, sfDir))
    }

  /** The PRODUCTION-WIDTH D²-seeded quantizer (r14): 64 cells trained
    * from deterministic k-means++ farthest-first seeds + 1 Lloyd round
    * — the config the r14 seeding ladder measured best at 12.5% probed
    * (BASELINE.md: recall@5 0.600/0.600/0.531 across the three corpora
    * vs 0.519–0.531 for the hash-seeded r13 default; at the registered
    * 16-cell point the hash init stays best, so that family keeps its
    * lattice). Own memo cell — a production deployment runs one
    * quantizer per operating width. */
  private def ivfCellsD2(spark: SparkSession,
                         sfDir: String): Array[(Long, Seq[Double], Double)] =
    SharedFrames.memoValue(spark, sfDir, "ivfCellsD2") {
      Similarity.ivfCells(embs(spark, sfDir), nCells = 64, rounds = 1,
        d2Seed = true)
    }

  /** IVF top-k under the D²-seeded production-width quantizer — the
    * oracle-checked registration of the r14 seeding work (the 16-cell
    * `similarity_ivf` keeps the r13 trained lattice). */
  val similarityIvfD2: (SparkSession, String) => DataFrame =
    memoized("similarityIvfD2") { (spark, sfDir) =>
      Similarity.ivfHashTopK(embs(spark, sfDir), nQueries = 8, k = 5,
        nCells = 64, nProbe = 8, cells = Some(ivfCellsD2(spark, sfDir)))
    }

  /** Parameterized [[Similarity.ivfHashTopKOracleSql]] at the D² query's
    * knobs — the seeding lattice replayed by the recursive-CTE replay of
    * the farthest-first selection. */
  val similarityIvfD2Oracle: String = Similarity.ivfHashTopKOracleSql(
    nQueries = 8, k = 5, nCells = 64, nProbe = 8, rounds = 1, d2Seed = true)

  val embeddingPq: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "pqCodes") {
      Similarity.productQuantize(embs(spark, sfDir),
        codebook = Some(pqCodebook(spark, sfDir)))
    }

  /** ADC search over the memoized PQ codes — the registry runs it right
    * after `embedding_pq` so the assignment pass is shared, matching how
    * a production index serves queries off the stored codes. Memoized:
    * the codebook + query-vector collects run at build time. */
  val similarityPq: (SparkSession, String) => DataFrame =
    memoized("similarityPq") { (spark, sfDir) =>
      Similarity.adcTopK(embs(spark, sfDir), nQueries = 8, topK = 5,
        sharedCodes = Some(embeddingPq(spark, sfDir)),
        codebook = Some(pqCodebook(spark, sfDir)))
    }

  /** The RESIDUAL PQ codebook (r20) — trained on x − centroid(cell(x))
    * against the shared coarse quantizer [[ivfCells]], the Faiss-default
    * encoding the r19 recall ladder asked for. Resolved once per
    * (session, corpus), the [[pqCodebook]] contract. */
  private def pqResCodebook(spark: SparkSession,
                            sfDir: String): Array[Seq[Double]] =
    SharedFrames.memoValue(spark, sfDir, "pqResCodebook") {
      Similarity.residualCodebook(embs(spark, sfDir),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** Residual PQ codes (r20): one map-side pass emits each vector's
    * coarse cell + its m residual codes — the stored form of the
    * IVF-PQ index (codes are only decodable against their cell, so they
    * travel together, the Faiss IVF-list layout). Memoized WITH
    * persistence like [[embeddingPq]] — the residual searches serve off
    * these rows. */
  val embeddingPqResidual: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "pqResCodes") {
      Similarity.productQuantizeResidual(embs(spark, sfDir),
        codebook = Some(pqResCodebook(spark, sfDir)),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** IVF-PQ composite search over the memoized RESIDUAL codes (r20 —
    * was absolute-vector PQ, whose ADC plateaued at the plain-IVF
    * recall ceiling; the residual-vs-flat ladder receipt is in
    * BASELINE.md and `ann_recall_audit` carries both forms). The coarse
    * quantizer restricts candidates, ADC scores them off the stored
    * codes against per-(query, probe-cell) residual LUTs. Memoized:
    * centroid + query collects run at build time. */
  val similarityIvfPq: (SparkSession, String) => DataFrame =
    memoized("similarityIvfPq") { (spark, sfDir) =>
      Similarity.ivfPqResidualTopK(embs(spark, sfDir), nQueries = 8, topK = 5,
        sharedCodes = Some(embeddingPqResidual(spark, sfDir)),
        codebook = Some(pqResCodebook(spark, sfDir)),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** The absolute-vector IVF-PQ form, kept serving off the flat codes
    * — the measured baseline `ann_recall_audit` compares the residual
    * default against (`ivfpq_flat` rows). */
  val similarityIvfPqFlat: (SparkSession, String) => DataFrame =
    memoized("similarityIvfPqFlat") { (spark, sfDir) =>
      Similarity.ivfPqTopK(embs(spark, sfDir), nQueries = 8, topK = 5,
        sharedCodes = Some(embeddingPq(spark, sfDir)),
        codebook = Some(pqCodebook(spark, sfDir)),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** IVF+PQ with the exact re-rank tail (r11, the Faiss refine stage;
    * residual codes since r20): ADC shortlists 100 per query off the
    * shared stored codes, true cosine re-ranks the shortlist to top-5 —
    * the standard answer to the quantization loss ann_recall_audit
    * measures on the unrefined form. Memoized: centroid/codebook
    * collects run at build. */
  val similarityIvfPqRerank: (SparkSession, String) => DataFrame =
    memoized("similarityIvfPqRerank") { (spark, sfDir) =>
      Similarity.ivfPqResidualTopKRefined(embs(spark, sfDir), nQueries = 8,
        topK = 5, rerankDepth = 100,
        sharedCodes = Some(embeddingPqResidual(spark, sfDir)),
        codebook = Some(pqResCodebook(spark, sfDir)),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** Batch-standing-query ADC search — the LUT-table form
    * ([[Similarity.adcTopKBatch]]) at a query count (128, vs the literal
    * form's 8) where per-query plan literals would bloat codegen: the
    * lookup tables travel as a broadcast frame, the plan stays bounded
    * by the codebook. Serves off the same memoized codes as
    * `similarity_pq`. Memoized: the codebook collect runs at build. */
  val similarityPqBatchq: (SparkSession, String) => DataFrame =
    memoized("similarityPqBatchq") { (spark, sfDir) =>
      Similarity.adcTopKBatch(embs(spark, sfDir), nQueries = 128, topK = 5,
        sharedCodes = Some(embeddingPq(spark, sfDir)),
        codebook = Some(pqCodebook(spark, sfDir)))
    }

  /** Batch-standing-query IVF-PQ (residual since r20) — the residual
    * form IS the LUT-table strategy (per-(query, probe-cell) LUTs travel
    * as a broadcast frame), so the 128-standing-query registration is
    * the same operator at the batch query count; all equi joins, plan
    * bounded by centroid/codebook literals. Shares the memoized residual
    * codes. */
  val similarityIvfPqBatchq: (SparkSession, String) => DataFrame =
    memoized("similarityIvfPqBatchq") { (spark, sfDir) =>
      Similarity.ivfPqResidualTopK(embs(spark, sfDir), nQueries = 128,
        topK = 5, sharedCodes = Some(embeddingPqResidual(spark, sfDir)),
        codebook = Some(pqResCodebook(spark, sfDir)),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** Incremental ANN ingest ([[Similarity.incrementalAssign]]): every
    * 10th vector plays the newly-arrived batch (the `dedup_incremental`
    * split convention, vec_id-keyed), the rest the landed corpus whose
    * IVF centroids + PQ codebook are FROZEN; the new rows get cells and
    * codes in one map-side pass. Memoized: the two bounded index
    * collects (nCells + k rows) run at build time. */
  val similarityIncremental: (SparkSession, String) => DataFrame =
    memoized("similarityIncremental") { (spark, sfDir) =>
      Similarity.incrementalAssign(embs(spark, sfDir),
        org.apache.spark.sql.functions.col("vec_id") % 10 === 0)
    }

  /** The residual-encoding ingest twin (r20): same split convention,
    * frozen coarse cells + RESIDUAL codebook — the ingest path that
    * matches the registered residual IVF-PQ search family. */
  val similarityIncrementalResidual: (SparkSession, String) => DataFrame =
    memoized("similarityIncrementalResidual") { (spark, sfDir) =>
      Similarity.incrementalAssignResidual(embs(spark, sfDir),
        org.apache.spark.sql.functions.col("vec_id") % 10 === 0)
    }

  /** Cluster-balanced (semantic-mixing) sample: at most 25 vectors per
    * IVF cell by deterministic hash rank — flattens over-represented
    * modes before a training mix. Memoized like the other
    * collect-at-build queries: the centroid orderBy/limit/collect runs
    * once per (session, sfDir), not per bench rep. */
  val sampleClusterBalanced: (SparkSession, String) => DataFrame =
    memoized("sampleClusterBalanced") { (spark, sfDir) =>
      Similarity.clusterBalancedSample(embs(spark, sfDir),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** SemDeDup (r18): within-trained-cell cosine eviction — the
    * published cluster-then-dedup recipe over the shared IVF quantizer;
    * τ = 0.42, the sign-LSH dedup family's near-dup floor on this
    * corpus. Memoized: shares the [[ivfCells]] train-once collect with
    * the whole IVF family. */
  val dedupSemanticCells: (SparkSession, String) => DataFrame =
    memoized("dedupSemanticCells") { (spark, sfDir) =>
      Similarity.semanticDedupCells(embs(spark, sfDir),
        cells = Some(ivfCells(spark, sfDir)))
    }

  val dedupSemanticCellsOracle: String =
    Similarity.semanticDedupCellsOracleSql()

  /** SemDeDup cell-health audit (r19): occupancy / over-cap / exempted
    * share / pair-mass bound per cell + rollup total, composed over the
    * memoized `dedup_semantic_cells` output — zero extra assignment
    * cost; the over-cap all-keep degradation is no longer silent. */
  val semdedupCellAuditQ: (SparkSession, String) => DataFrame =
    memoized("semdedupCellAudit") { (spark, sfDir) =>
      Similarity.semanticDedupCellAudit(dedupSemanticCells(spark, sfDir))
    }

  val semdedupCellAuditOracle: String =
    Similarity.semanticDedupCellAuditOracleSql()

  /** Incremental SemDeDup admission (r18): every 10th vector plays the
    * arriving batch (the `dedup_incremental` split convention,
    * vec_id-keyed), the rest the existing corpus — each arrival
    * verdicted dup/new against its trained cell's corpus members.
    * Streaming twin: [[graft.similarity.Similarity.semanticDedupFlags]]
    * (flagged-id parity pinned in StreamingCurationSpec). */
  val dedupSemanticIncremental: (SparkSession, String) => DataFrame =
    memoized("dedupSemanticIncremental") { (spark, sfDir) =>
      Similarity.semanticDedupIncremental(embs(spark, sfDir),
        org.apache.spark.sql.functions.col("vec_id") % 10 === 0,
        cells = Some(ivfCells(spark, sfDir)))
    }

  val dedupSemanticIncrementalOracle: String =
    Similarity.semanticDedupIncrementalOracleSql("vec_id % 10 = 0")

  /** IVF index-health audit (r13): per-cell occupancy + member-cosine
    * coherence under the shared trained quantizer — the monitoring row
    * that puts the trained centroids themselves under the value gate.
    * Memoized: shares the [[ivfCells]] train-once collect. */
  val annIndexStats: (SparkSession, String) => DataFrame =
    memoized("annIndexStats") { (spark, sfDir) =>
      Similarity.ivfCellStats(embs(spark, sfDir),
        cells = Some(ivfCells(spark, sfDir)))
    }

  /** Per-source rollup over the BY-SOURCE documents layout
    * ([[graft.sources.TableLayout.documentsSourcePartitioned]]) — the
    * documents twin of `events_layout_prune`: the source filter prunes
    * whole `source=` directories at FILE LISTING (3 of 20 at the test
    * corpus), before any I/O (PartitionFilters + file-count receipt in
    * TableLayoutSpec). Oracle = the same rollup over the raw parquet:
    * layout moves bytes, never values. All-integer aggregates — no
    * rounding surface. */
  val docsLayoutPrune: (SparkSession, String) => DataFrame =
    memoized("docsLayoutPrune") { (spark, sfDir) =>
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val dir = graft.sources.TableLayout.documentsSourcePartitioned(spark, sfDir)
      spark.read.parquet(dir)
        .filter(col("source").isin("src3", "src7", "src11"))
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }

  /** Length-band rollup over the same documents layout via the
    * `_graft_stats` manifest ([[graft.sources.TableLayout.readStatsPruned]])
    * — the stats-skipping twin of `events_zorder_box` on the corpus
    * table: within each source directory the files hold DISJOINT
    * n_chars ranges, so the band opens only intersecting files (the
    * sequence-packing / curation access pattern). Stats pruning is a
    * superset guarantee + row filter, so the rollup is exact against
    * the raw table whatever the manifest prunes. */
  val docsStatsBox: (SparkSession, String) => DataFrame =
    memoized("docsStatsBox") { (spark, sfDir) =>
      import org.apache.spark.sql.functions.{col, count, lit, sum}
      val dir = graft.sources.TableLayout.documentsSourcePartitioned(spark, sfDir)
      graft.sources.TableLayout.readStatsPruned(spark, dir,
          Seq(("n_chars", 250, 350)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }

  /** Embedding drift monitor: even vec_ids play the NEW snapshot (the
    * incremental-family split convention) — per-dim mean/std movement +
    * standardized mean shift. */
  val embeddingDrift: (SparkSession, String) => DataFrame =
    memoized("embeddingDrift") { (spark, sfDir) =>
      import org.apache.spark.sql.functions.col
      // expectedDim: the registered oracle fans out exactly 64 dims. The
      // memo bounds the guard's one-row dim probe (a driver collect) to
      // once per (session, sfDir) instead of once per bench rep
      Similarity.embeddingDrift(embs(spark, sfDir), col("vec_id") % 2 === 0,
        expectedDim = Some(64))
    }

  /** Eval-set split (vec_id % 11) and cosine floor shared with the
    * semantic-decontamination oracle SQL. */
  private val semanticEvalMod = 11
  private val semanticTau = 0.25

  def decontaminateSemantic(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.semanticDecontaminate(embs(spark, sfDir),
      isEval = org.apache.spark.sql.functions.col("vec_id") % semanticEvalMod === 0,
      threshold = semanticTau)

  val dedupEmbedding: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "embeddingPairs") {
      // persisted pair table, same rationale as dedupMinhash: cluster
      // resolution re-reads it every contraction round
      Similarity.signLshNearDupPairs(embs(spark, sfDir), threshold = 0.42)
    }

  def textWinnow(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.winnowingFingerprint(docs(spark, sfDir))

  /** Pseudo-benchmark split: every 43rd doc plays the eval set.
    * Memoized WITH persistence (unlike the persist=false memos, sharing
    * the lazy object alone would not stop `curate_corpus` from re-running
    * the whole shingle join — the contaminated-doc list is tiny, so
    * caching the OUTPUT is the cheap way to share the work). */
  val dedupDecontaminate: (SparkSession, String) => DataFrame =
    (spark, sfDir) => SharedFrames.memo(spark, sfDir, "dedupDecontaminate") {
      Dedup.decontaminate(docs(spark, sfDir),
        isBenchmark = org.apache.spark.sql.functions.col("doc_id")
          % EvalHoldoutMod === 0)
    }

  /** Near-dup clusters over the MinHash pair graph (the memoized
    * dedup_minhash result is the edge input, so the pair pipeline runs
    * once for both queries). The contraction rounds run actions at build
    * time — memoized for the same reason as the other heavy builders. */
  val dedupClusters: (SparkSession, String) => DataFrame =
    memoized("dedupClusters") { (spark, sfDir) =>
      Dedup.clusters(dedupMinhash(spark, sfDir))
    }

  /** Histogram over the memoized cluster membership — runs right after
    * dedup_clusters in registry order so the contraction never re-runs. */
  def clusterSizeHist(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.clusterSizeHistogram(dedupClusters(spark, sfDir))

  /** Leakage-safe split over the memoized cluster membership — near-dup
    * clusters cross the train/eval boundary atomically
    * ([[TextAnalysis.clusterSafeSplit]]); registry order puts it after
    * dedup_clusters so the contraction never re-runs. */
  def docSplitLeakageSafe(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.clusterSafeSplit(docs(spark, sfDir),
      dedupClusters(spark, sfDir))

  /** The clusters oracle's membership nested under the hashSplit
    * thresholds, keyed by the canonical member's content — NULL h2
    * (never possible here: text is non-null) would fall to 'test' on
    * both engines. LAZY: `dedupClustersOracle` initializes later in the
    * object (a plain val here interpolates null). */
  lazy val docSplitLeakageSafeOracle: String =
    s"""WITH m AS (SELECT doc_id, cluster_id FROM ($dedupClustersOracle) cl),
       |k AS (SELECT d.doc_id, m.cluster_id,
       |        coalesce(m.cluster_id, d.doc_id) AS kid
       |      FROM documents d LEFT JOIN m ON m.doc_id = d.doc_id),
       |s AS (SELECT k.doc_id, k.cluster_id, substring(md5(kd.text), 1, 2) AS h2
       |      FROM k JOIN documents kd ON kd.doc_id = k.kid)
       |SELECT doc_id, cluster_id,
       |       CASE WHEN h2 < 'cd' THEN 'train'
       |            WHEN h2 < 'e6' THEN 'val' ELSE 'test' END AS split
       |FROM s""".stripMargin

  /** Memoized: the labelCentroids collect runs at build time. */
  val embeddingOutliers: (SparkSession, String) => DataFrame =
    memoized("embeddingOutliers") { (spark, sfDir) =>
      Similarity.centroidOutliers(embs(spark, sfDir))
    }

  def vocabTopKQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.vocabTopK(docs(spark, sfDir),
      sharedTf = Some(docTokenCounts(spark, sfDir)))

  def vocabBySourceQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.vocabBySource(docs(spark, sfDir))

  def embeddingCentroids(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.labelCentroids(embs(spark, sfDir))

  /**
   * End-to-end corpus curation — the whole pipeline as ONE declarative
   * plan: keep a document iff it (1) passes the quality gate, (2) is the
   * canonical copy of its exact-duplicate group, (3) is not a
   * non-canonical member of a MinHash near-dup cluster, (4) is not
   * benchmark-contaminated, and (5) is not itself a benchmark/eval doc.
   * Every stage is the already-verified operator (shared/memoized
   * frames, so the pair pipeline and cluster contraction run once per
   * session); the id-joins are all equi-joins on unique keys — semi/anti
   * shapes Catalyst plans as broadcast/hash joins, no fan-out.
   */
  def curateCorpus(spark: SparkSession, sfDir: String): DataFrame =
    // persisted memo: the kept-set is O(kept docs) of three narrow
    // columns, and since r8 it has a second consumer (the semantic
    // variant) — same landed-table rationale as the pair frames
    SharedFrames.memo(spark, sfDir, "curatedCorpus")(
      curateCorpusBuild(spark, sfDir))

  /** The exact-dedup canonical-keeper and gate-pass id sets, memoized:
    * both curate_corpus and curate_funnel consume them (tiny one-column
    * frames, persisted once per session — review r18: the funnel's
    * docstring claimed frame sharing the build didn't actually do). */
  private def exactKeepIds(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "exactKeepIds")(
      Dedup.exact(docs(spark, sfDir)).select("doc_id"))

  private def gatePassIds(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "gatePassIds")(
      TextAnalysis.qualityGate(docs(spark, sfDir))
        .filter(org.apache.spark.sql.functions.col("keep")).select("doc_id"))

  private def curateCorpusBuild(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val d = docs(spark, sfDir)
    val contaminated = dedupDecontaminate(spark, sfDir).select("doc_id")
    val nonCanonical = dedupClusters(spark, sfDir)
      .filter(not(col("is_canonical"))).select("doc_id")
    d.join(exactKeepIds(spark, sfDir), "doc_id")
      .join(gatePassIds(spark, sfDir), "doc_id")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(nonCanonical, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % EvalHoldoutMod =!= 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
  }

  /**
   * Curation funnel report (r18; release stages r20) — the pipeline's
   * yield observability: per (stage, source) CUMULATIVE survivor counts
   * through the exact release stage order (ingest → exact-canonical →
   * gate-pass → decontaminated → near-dup-canonical → eval-holdout →
   * semantic-canonical → release-selected), the table a curator reads
   * to see WHERE a source's volume went before the shipped corpus. The
   * last two stages close the full yield story: stage 7 is
   * [[curateCorpusSemantic]]'s embedding-cluster tier, stage 8 the
   * epoch-chain admission ([[releaseManifestQ]] membership) — so the
   * stage-8 total equals the release manifest's distinct-document count
   * by construction (pinned in DataPipelineSpec). Every stage reuses
   * the memoized operator frames the curate/release queries themselves
   * consume, so the funnel costs eight tiny per-source rollups over
   * already-landed id sets — stage keys are index-prefixed so the
   * natural sort reads in pipeline order.
   */
  val curateFunnelQ: (SparkSession, String) => DataFrame =
    memoized("curateFunnel") { (spark, sfDir) =>
      import org.apache.spark.sql.functions.{col, lit, sum, when}
      // ONE pass, not six cumulative join chains: each doc gets the
      // index of the LAST stage it survives (four left joins over the
      // stage id sets — the same memoized frames curate_corpus
      // consumes — then a CASE), and stage k's survivor count is the
      // number of docs with max_stage >= k, materialized by fanning the
      // tiny per-(source, max_stage) rollup over a broadcast 6-row
      // stage table. The naive cumulative union recomputed the s4
      // chain three times and benched at 4.6 s; this shape is the same
      // rows for ~1 join-pass of work.
      val d = docs(spark, sfDir).select(col("doc_id"), col("source"))
      val mark = (f: DataFrame, c: String) =>
        f.select(col("doc_id"), lit(1).as(c))
      val flags = d
        .join(mark(exactKeepIds(spark, sfDir), "__ek"), Seq("doc_id"), "left")
        .join(mark(gatePassIds(spark, sfDir), "__gp"), Seq("doc_id"), "left")
        .join(mark(dedupDecontaminate(spark, sfDir), "__ct"),
          Seq("doc_id"), "left")
        .join(mark(dedupClusters(spark, sfDir)
          .filter(!col("is_canonical")), "__nc"), Seq("doc_id"), "left")
        // r20: the funnel runs through the full release — the semantic
        // dedup tier (curate_corpus_semantic's extra stage) and the
        // epoch-chain selection (appears in the release manifest)
        .join(mark(embeddingClusters(spark, sfDir)
          .filter(!col("is_canonical"))
          .select(col("vec_id").as("doc_id")), "__sc"), Seq("doc_id"), "left")
        .join(mark(releaseManifestQ(spark, sfDir)
          .select(col("doc_id")).distinct(), "__rm"), Seq("doc_id"), "left")
        .select(col("source"),
          when(col("__ek").isNull, 1)
            .when(col("__gp").isNull, 2)
            .when(col("__ct").isNotNull, 3)
            .when(col("__nc").isNotNull, 4)
            .when(col("doc_id") % EvalHoldoutMod === 0, 5)
            .when(col("__sc").isNotNull, 6)
            .when(col("__rm").isNull, 7)
            .otherwise(8).as("__max_stage"))
      val perSrc = flags.groupBy(col("source"), col("__max_stage"))
        .agg(org.apache.spark.sql.functions.count(lit(1)).as("__n"))
      // survivors(stage k) = Σ docs with max_stage >= k — materialized by
      // exploding each tiny rollup row over 1..max_stage (pure fan-out of
      // a sources×8-row frame; no join node at all, so the registry's
      // cartesian-free sweep holds without a whitelist entry)
      val stageName = org.apache.spark.sql.functions.typedLit(Map(
        1 -> "01_ingest", 2 -> "02_exact_canonical", 3 -> "03_gate_pass",
        4 -> "04_decontaminated", 5 -> "05_near_dup_canonical",
        6 -> "06_eval_holdout", 7 -> "07_semantic_canonical",
        8 -> "08_release_selected"))
      perSrc.select(col("source"), col("__n"),
          org.apache.spark.sql.functions.explode(
            org.apache.spark.sql.functions.sequence(lit(1),
              col("__max_stage"))).as("__idx"))
        .groupBy(col("__idx"), col("source"))
        .agg(sum(col("__n")).as("n_docs"))
        .select(org.apache.spark.sql.functions
          .element_at(stageName, col("__idx")).as("stage"),
          col("source"), col("n_docs"))
    }

  /**
   * Cross-modal curation — [[curateCorpus]] with the SEMANTIC dedup tier
   * stacked on top: additionally drop documents that are non-canonical
   * members of an embedding near-dup cluster (vec_id keys documents —
   * only embedded documents can be semantically deduped, which is
   * exactly production reality when embedding coverage trails ingest).
   * One more anti equi-join over the memoized cluster frame; everything
   * upstream is the already-verified stages.
   */
  def curateCorpusSemantic(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, not}
    val nonCanonical = embeddingClusters(spark, sfDir)
      .filter(not(col("is_canonical")))
      .select(col("vec_id").as("doc_id"))
    curateCorpus(spark, sfDir).join(nonCanonical, Seq("doc_id"), "left_anti")
  }

  /** Embedding-coverage audit under the same vec_id-keys-documents
    * convention as [[curateCorpusSemantic]]: per source, how much of
    * the corpus the embedding table actually covers — the number that
    * decides whether semantic dedup/search can be trusted corpus-wide
    * or only on the embedded slice. LEFT join doc→vec on the id key
    * (both sides hash-partitioned on it), then a tiny per-source
    * rollup; coverage in exact micro-units (bp_e2 = basis points ×100,
    * an integer) so the ratio is engine-portable without float rounding
    * concerns. */
  def embeddingCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit, sum, when}
    val vecIds = embs(spark, sfDir).select(col("vec_id").as("doc_id"),
      lit(1L).as("__has")).distinct()
    docs(spark, sfDir).select(col("doc_id"), col("source"))
      .join(vecIds, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__has").isNotNull, 1L).otherwise(0L)).as("n_embedded"))
      .select(col("source"), col("n_docs"), col("n_embedded"),
        // SQL `div` = integer division (Column./ would widen to double
        // and lose exactness past 2^53)
        org.apache.spark.sql.functions
          .expr("n_embedded * 1000000 div n_docs").as("coverage_ppm"))
  }

  /** |docs with text|, memoized per (session, corpus) — the tf-idf N
    * (r22, guide §1.2: one probe job per session). */
  private def nDocsText(spark: SparkSession, sfDir: String): Long =
    SharedFrames.memoValue(spark, sfDir, "nDocsText") {
      java.lang.Long.valueOf(TextAnalysis.nDocsWithText(docs(spark, sfDir)))
    }.longValue()

  def tfidfTopTermsQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tfidfTopTerms(docs(spark, sfDir),
      sharedTf = Some(docTokenCounts(spark, sfDir)),
      sharedN = Some(nDocsText(spark, sfDir)))

  def docEntropy(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.tokenEntropy(docs(spark, sfDir),
      sharedTf = Some(docTokenCounts(spark, sfDir)))

  /** Memoized: the two-pass packer aux-persists its range-partitioned
    * frame at build time (TextAnalysis.packShards). */
  val packShardsQ: (SparkSession, String) => DataFrame =
    memoized("packShards") { (spark, sfDir) =>
      TextAnalysis.packShards(docs(spark, sfDir))
    }

  /** Memoized like `pack_shards`: the two-pass global prefix sum
    * aux-persists its range-partitioned frame at build time
    * (TextAnalysis.packSequences). */
  val packSequencesQ: (SparkSession, String) => DataFrame =
    memoized("packSequences") { (spark, sfDir) =>
      TextAnalysis.packSequences(docs(spark, sfDir))
    }

  /** ONE gate-priority range-partitioned frame per (session, sfDir) —
    * `select_token_budget` and `mix_epoch_materialize`'s remainder
    * admission both consume it (r21, guide §2.4: the two queries used
    * to each pay the gate scan + range sampling + shuffle). The epoch
    * consumer filters `n_tokens IS NOT NULL` (≡ text IS NOT NULL: split
    * of non-null text is never empty) — NULL-token rows carry nothing
    * into any window sum, so the live rows' prefix values are identical
    * either way (the two-pass rollup is partitioning-invariant given
    * order-compatible partitions). */
  private def gatedParts(spark: SparkSession, sfDir: String): DataFrame =
    SharedFrames.memo(spark, sfDir, "gatedParts")(
      TextAnalysis.gatedPriorityParts(docs(spark, sfDir)))

  /** Token-budget mixture materialization (r18): per-source best-first
    * admission under the quality-gate priority, via the pack_shards
    * two-pass prefix sum. */
  val selectTokenBudgetQ: (SparkSession, String) => DataFrame =
    memoized("selectTokenBudget") { (spark, sfDir) =>
      TextAnalysis.selectTokenBudget(docs(spark, sfDir),
        sharedParts = Some(gatedParts(spark, sfDir)))
    }


  /** Memoized: the containment path persists its df-capped inverted
    * index at build time (same cap as the capped jaccard). */
  val dedupContainment: (SparkSession, String) => DataFrame =
    memoized("dedupContainment") { (spark, sfDir) =>
      Dedup.containmentPairs(docs(spark, sfDir), maxShingleDf = jaccardDfCap,
        sharedShingles = Some(sharedShingles(spark, sfDir)))
    }

  /** The ingest-batch split shared by `dedup_incremental` and its
    * oracle: every 10th doc plays the newly-arrived batch, the rest the
    * existing corpus. doc_id-only, as `Dedup.incremental` requires. */
  private def isNewBatch =
    org.apache.spark.sql.functions.col("doc_id") % 10 === 0

  /** Bloom membership audit on the same ingest-batch split as
    * `dedup_incremental`: per incoming doc, the broadcast-sketch
    * verdict next to the exact one — the FP-rate report for the chosen
    * (k, m) before the exact path is dropped at scale. */
  def dedupBloomAudit(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.bloomDedupAudit(docs(spark, sfDir), isNewBatch)

  /** Memoized: the near tier persists its touched-bucket sliver; reuses
    * the session-shared shingle + signature frames. */
  val dedupIncremental: (SparkSession, String) => DataFrame =
    memoized("dedupIncremental") { (spark, sfDir) =>
      Dedup.incremental(docs(spark, sfDir), isNewBatch,
        sharedShingles = Some(sharedShingles(spark, sfDir)),
        sharedSignature = Some(sharedSignature(spark, sfDir)))
    }

  /** Percentile bounds shared by the gate query and its oracle. */
  private val pctLow = 0.05
  private val pctHigh = 0.95

  /** Memoized like `pack_shards`: the two-pass rank persists its
    * range-partitioned frame at build time. */
  val docPercentileGateQ: (SparkSession, String) => DataFrame =
    memoized("docPercentileGate") { (spark, sfDir) =>
      TextAnalysis.lengthPercentileGate(docs(spark, sfDir), pctLow, pctHigh)
    }

  /** Robust-gate threshold shared by the query and its oracle. The
    * canonical 3.5 keeps everything on this fixture's near-uniform
    * lengths; 1.5 is the value that discriminates here (flags real
    * tails in every source) — knob, not code. */
  private val robustGateThreshold = 1.5

  /** MAD length gate over the documents corpus
    * ([[TextAnalysis.robustLengthGate]]). */
  def docLengthMadGateQ(spark: SparkSession, sfDir: String): DataFrame =
    TextAnalysis.robustLengthGate(docs(spark, sfDir), robustGateThreshold)

  val docLengthMadGateOracle: String =
    s"""WITH t AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS v
       |  FROM documents WHERE text IS NOT NULL),
       |w AS (SELECT doc_id, source, v,
       |  quantile_cont(v, 0.5) OVER pw AS med
       |  FROM t WINDOW pw AS (PARTITION BY source)),
       |m AS (SELECT doc_id, source, v, med,
       |  quantile_cont(abs(v - med), 0.5) OVER pw AS mad
       |  FROM w WINDOW pw AS (PARTITION BY source))
       |SELECT doc_id, source, CAST(v AS BIGINT) AS n_chars,
       |  floor(0.6745 * (v - med) / nullif(mad, 0) * 1000000.0 + 0.5)
       |    / 1000000.0 AS robust_z,
       |  (mad <= 0 OR abs(floor(0.6745 * (v - med) / nullif(mad, 0)
       |    * 1000000.0 + 0.5) / 1000000.0) <= $robustGateThreshold) AS keep
       |FROM m""".stripMargin

  /** Sketch-QA summary over the two memoized pair pipelines — the LSH
    * and exact-Jaccard frames each build once per session, so the audit
    * itself costs one tiny join + aggregate. The exact side is the
    * CAPPED path (VERDICT r7 #3): at 100 TB the audit must run against
    * the reference set a cluster can actually compute — the unpruned
    * `dedup_jaccard` stays registered as ground truth for the oracle
    * gate, but nothing at scale should depend on it. (Also the cheap
    * choice here: the capped builder is memoized, so the audit reuses
    * the frame `dedup_jaccard_capped` already built, where the unpruned
    * `def` would re-run its self-join per call.) */
  def dedupLshAudit(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.lshRecallAudit(dedupMinhash(spark, sfDir),
      dedupJaccardCapped(spark, sfDir))

  /** Semantic near-dup cluster resolution — `Dedup.clusters` over the
    * sign-LSH embedding pair graph: the endgame of embedding dedup, a
    * canonical vector per semantic duplicate group. Memoized: the
    * contraction rounds run actions at build time (same reason as
    * dedup_clusters). */
  val embeddingClusters: (SparkSession, String) => DataFrame =
    memoized("embeddingClusters") { (spark, sfDir) =>
      Dedup.clusters(dedupEmbedding(spark, sfDir), aCol = "vec_a", bCol = "vec_b")
        .withColumnRenamed("doc_id", "vec_id")
    }

  /** Band-key occupancy audit over the SAME persisted minhash signature
    * frame the pair query shuffles on (k=8, 4 bands of 2) — one
    * signature pass for both queries, not one each. */
  def lshBucketStatsQ(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.lshBucketStats(sharedSignature(spark, sfDir),
      bands = 4, rowsPerBand = 2)

  def mediaFrames(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.frameSample(docs(spark, sfDir))

  def mediaFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.mediaSummary(docs(spark, sfDir))

  def eventsProps(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.propsAgg(Tables.eventsSpread(spark, sfDir))

  /** CMS heavy-hitter audit over event user traffic: top talkers by
    * exact count with their count-min estimates — the trust report run
    * before the exact per-key path is dropped at scale. */
  def cmsHeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    graft.ops.Sketches.heavyHittersAudit(
      Tables.eventsSpread(spark, sfDir), org.apache.spark.sql.functions.col("user_id"))

  def eventsPseudonymize(spark: SparkSession, sfDir: String): DataFrame =
    graft.privacy.Privacy.releaseAudit(Tables.eventsSpread(spark, sfDir))

  def piiScrub(spark: SparkSession, sfDir: String): DataFrame =
    graft.privacy.Privacy.scrub(docs(spark, sfDir))

  /** The events table's data contract ([[graft.contracts.Contracts]]):
    * id/actor presence, event-time inside the ingest month, enum and
    * range bounds, payload size, event_id uniqueness. One shared
    * aggregation pass for every row-grain check + one key-grain pass
    * for the uniqueness check; the range/length checks are tuned to
    * FAIL on real rows so the report discriminates. */
  def eventsContract(spark: SparkSession, sfDir: String): DataFrame =
    graft.contracts.Contracts.validate(Tables.eventsSpread(spark, sfDir),
      checks = eventChecks, uniqueKeys = Seq(Seq("event_id")))

  /** Shared check list of [[eventsContract]] minus the uniqueness key
    * (row-grain only — what the monitor can count per window). */
  private def eventChecks = {
    import graft.contracts.Contracts._
    Seq(notNull("event_id"), notNull("user_id"),
      tsBetween("ts", "2024-01-01 00:00:00", "2024-02-01 00:00:00"),
      inSet("event_type", Seq("view", "click", "purchase", "signup", "error")),
      inRange("value", 0.0, 150.0),
      lengthAtMost("props", 8))
  }

  /** The contract monitor at daily grain over the event stream — the
    * batch backfill twin of the streaming on-call view (same code path,
    * [[graft.contracts.Contracts.violationMonitor]]): per day, one row
    * per violated check plus the `__rows` total sentinel. */
  def eventsContractMonitor(spark: SparkSession, sfDir: String): DataFrame =
    graft.contracts.Contracts.violationMonitor(
      Tables.eventsSpread(spark, sfDir), eventChecks,
      windowLength = "1 day", tsCol = "ts")

  /** Ingest-time row quarantine over documents: per row, the semicolon-
    * joined list of violated row-grain checks and the keep verdict — a
    * pure projection, the form that runs unchanged on the ingest stream
    * (ContractsSpec pins stream parity). */
  def docsQuarantine(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.contracts.Contracts._
    quarantine(docs(spark, sfDir),
      Seq(
        notNull("text"),
        inSet("lang", Seq("en", "de", "fr", "es")),
        inRange("n_chars", 0.0, 500.0),
        lengthAtMost("text", 520)))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("violations"),
        org.apache.spark.sql.functions.col("keep"))
  }

  // -------------------------------------------------------------- oracles

  /** Distinct (doc_id, shingle) word-3-gram CTE shared by the dedup oracles. */
  private val shingleCtes: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 2), i ->
      |  toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS shingle
      |  FROM t WHERE len(toks) >= 3),
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh)""".stripMargin

  val dedupExactOracle: String =
    """SELECT min(doc_id) AS doc_id, md5(text) AS fingerprint,
      |       count(*) AS group_size
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** Same canonical form as `Dedup.normalizedForm` — DuckDB regexp_replace
    * needs the explicit 'g' flag to match Spark's replace-all default. */
  val dedupNormalizedOracle: String =
    """SELECT min(doc_id) AS doc_id,
      |  md5(trim(regexp_replace(regexp_replace(lower(text),
      |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS fingerprint,
      |  count(*) AS group_size,
      |  count(DISTINCT md5(text)) AS n_variants
      |FROM documents GROUP BY 2""".stripMargin

  /** Same 12-token windows as the spans oracle, same (n_docs,
    * n_occurrences, hash) tie order as `Dedup.boilerplateSpans`. */
  val spanBoilerplateOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 12),
      |w AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 11), i ->
      |      md5(array_to_string(toks[i+1 : i+12], ' ')))) h FROM t),
      |g AS (SELECT h, doc_id, count(*) AS c FROM w GROUP BY 1, 2),
      |a AS (SELECT h, count(*) AS n_docs, CAST(sum(c) AS BIGINT) AS n_occurrences,
      |             min(doc_id) AS example_doc
      |      FROM g GROUP BY h)
      |SELECT h AS span_hash, n_docs, n_occurrences, example_doc
      |FROM a WHERE n_docs > 1
      |ORDER BY n_docs DESC, n_occurrences DESC, span_hash LIMIT 50""".stripMargin

  /** Same 12-token windows, md5 window hashes, distinct-doc cross-doc
    * test, and LEFT-join dup count as `Dedup.duplicateSpanStats`. */
  val dedupSpansOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents
      |           WHERE len(string_split(text, ' ')) >= 12),
      |w AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 11), i ->
      |      md5(array_to_string(toks[i+1 : i+12], ' ')))) h FROM t),
      |d AS (SELECT h FROM (SELECT h, doc_id FROM w GROUP BY 1, 2)
      |      GROUP BY h HAVING count(*) > 1)
      |SELECT w.doc_id, count(*) AS n_windows, count(d.h) AS n_dup_windows,
      |       round(count(d.h) / CAST(count(*) AS DOUBLE), 6) AS dup_fraction
      |FROM w LEFT JOIN d ON d.h = w.h
      |GROUP BY w.doc_id""".stripMargin

  /** Replicates `Dedup.stripBoilerplate`: positional window hashes, the
    * same ≥-minDocs boilerplate set, range-expanded coverage, anti-joined
    * kept tokens re-joined in order under md5 — the digest pins the
    * reconstruction value-for-value. */
  val stripBoilerplateOracle: String = {
    val k = spanWindow
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents
       |           WHERE text IS NOT NULL),
       |w AS (SELECT doc_id, unnest(list_transform(range(len(toks) - ${k - 1}),
       |        i -> {'i': i, 'h': md5(array_to_string(toks[i+1 : i+$k], ' '))}),
       |        recursive := true)
       |      FROM t WHERE len(toks) >= $k),
       |b AS (SELECT h FROM (SELECT h, doc_id FROM w GROUP BY 1, 2)
       |      GROUP BY h HAVING count(*) >= 2),
       |cov AS (SELECT DISTINCT doc_id, pos FROM (
       |        SELECT doc_id, unnest(range(i, i + $k)) AS pos
       |        FROM w JOIN b USING (h))),
       |tok AS (SELECT doc_id, unnest(list_transform(range(len(toks)),
       |        p -> {'pos': p, 'token': toks[p+1]}), recursive := true)
       |      FROM t),
       |ks AS (SELECT tok.doc_id, count(*) AS nk,
       |         md5(string_agg(token, ' ' ORDER BY pos)) AS digest
       |       FROM tok ANTI JOIN cov USING (doc_id, pos)
       |       GROUP BY tok.doc_id)
       |SELECT t.doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |       COALESCE(nk, 0) AS n_kept,
       |       round(1.0 - COALESCE(nk, 0) / CAST(len(toks) AS DOUBLE), 6)
       |         AS removed_frac,
       |       COALESCE(digest, md5('')) AS clean_digest
       |FROM t LEFT JOIN ks ON ks.doc_id = t.doc_id""".stripMargin
  }

  /** The 8-lane minhash column list and the 4-band key SELECTs — shared
    * by the pair oracle and the bucket-stats oracle so both hash the
    * exact same band keys (mirrors `Dedup.bandedKeys` being shared by
    * `lshCandidates` and `lshBucketStats`). */
  private val minhashMinsSql: String = (0 until 8).map(i =>
    s"min(substr(md5('${i / 4}:'||shingle), ${1 + 8 * (i % 4)}, 8)) h$i")
    .mkString(",\n  ")
  private val minhashBands0Sql: String = (0 until 4).map(b =>
    s"SELECT doc_id, $b AS band, md5(h${2 * b}||h${2 * b + 1}) AS bkey FROM mh")
    .mkString("\n  UNION ALL ")

  /** The full minhash pair pipeline as CTEs ending in
    * `pairs(doc_a, doc_b, jaccard)` — the pair oracle SELECTs it
    * directly; the cross-source leakage oracle aggregates it (mirrors
    * both Spark queries consuming the one memoized pair table). */
  private val minhashPairCtes: String = {
    val mins = minhashMinsSql
    val bands0 = minhashBands0Sql
    val bands =
      s"""SELECT doc_id, band, bkey FROM (SELECT doc_id, band, bkey,
         |    count(*) OVER (PARTITION BY band, bkey) n FROM (
         |  $bands0))
         |  WHERE n <= 1000""".stripMargin
    s"""$shingleCtes,
       |mh AS (SELECT doc_id,
       |  $mins
       |  FROM shd GROUP BY doc_id),
       |bands AS (
       |  $bands),
       |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) n FROM shd GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, count(*) i
       |  FROM cand c
       |  JOIN shd sa ON sa.doc_id = c.da
       |  JOIN shd sb ON sb.doc_id = c.db AND sb.shingle = sa.shingle
       |  GROUP BY c.da, c.db),
       |pairs AS (SELECT i.da AS doc_a, i.db AS doc_b,
       |       round(CAST(i.i AS DOUBLE)/(za.n + zb.n - i.i), 6) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.da
       |JOIN sizes zb ON zb.doc_id = i.db
       |WHERE CAST(i.i AS DOUBLE)/(za.n + zb.n - i.i) >= 0.5)""".stripMargin
  }

  val dedupMinhashOracle: String =
    s"$minhashPairCtes\nSELECT doc_a, doc_b, jaccard FROM pairs"

  /** Same unordered-source-pair rollup as `Dedup.crossSourceLeakage`:
    * micro-unit LONG summation keeps the mass order-independent and
    * exact in both engines (each 6-dp jaccard rounds to the same
    * integer count of 1e-6 units). */
  val crossSourceLeakageOracle: String =
    s"""$minhashPairCtes
       |SELECT least(da.source, db.source) AS src_a,
       |       greatest(da.source, db.source) AS src_b,
       |       count(*) AS pair_count,
       |       CAST(sum(CAST(round(jaccard * 1000000) AS BIGINT)) AS BIGINT)
       |         AS jaccard_mass_e6
       |FROM pairs
       |JOIN documents da ON da.doc_id = pairs.doc_a
       |JOIN documents db ON db.doc_id = pairs.doc_b
       |GROUP BY 1, 2""".stripMargin

  val dedupJaccardOracle: String =
    s"""$shingleCtes,
       |sizes AS (SELECT doc_id, count(*) n FROM shd GROUP BY doc_id),
       |inter AS (SELECT sa.doc_id da, sb.doc_id db, count(*) i
       |  FROM shd sa JOIN shd sb
       |    ON sb.shingle = sa.shingle AND sa.doc_id < sb.doc_id
       |  GROUP BY 1, 2)
       |SELECT i.da AS doc_a, i.db AS doc_b,
       |       round(CAST(i.i AS DOUBLE)/(za.n + zb.n - i.i), 6) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.da
       |JOIN sizes zb ON zb.doc_id = i.db
       |WHERE CAST(i.i AS DOUBLE)/(za.n + zb.n - i.i) >= 0.5""".stripMargin

  /** Same shingle grain as the jaccard oracles; novelty = share of the
    * doc's distinct shingles with corpus df = 1. */
  val ngramNoveltyOracle: String =
    s"""$shingleCtes,
       |dfreq AS (SELECT shingle, count(*) AS df FROM shd GROUP BY 1)
       |SELECT shd.doc_id, count(*) AS n_shingles,
       |  CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       |  round(CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
       |        / count(*), 6) AS novelty
       |FROM shd JOIN dfreq ON dfreq.shingle = shd.shingle
       |GROUP BY 1""".stripMargin

  /** Same stop-shingle pruning as `Dedup.jaccardPairsExact(maxShingleDf)`:
    * shingles over the df cap leave candidate GENERATION only; surviving
    * pairs re-score against the FULL shingle sets, so values match the
    * unpruned oracle wherever both emit a pair. */
  val dedupJaccardCappedOracle: String =
    s"""$shingleCtes,
       |keep AS (SELECT shingle FROM shd GROUP BY shingle
       |  HAVING count(*) <= $jaccardDfCap),
       |inv AS (SELECT doc_id, shingle FROM shd JOIN keep USING (shingle)),
       |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
       |  FROM inv a JOIN inv b
       |    ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) n FROM shd GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, count(*) i
       |  FROM cand c
       |  JOIN shd sa ON sa.doc_id = c.da
       |  JOIN shd sb ON sb.doc_id = c.db AND sb.shingle = sa.shingle
       |  GROUP BY c.da, c.db)
       |SELECT i.da AS doc_a, i.db AS doc_b,
       |       round(CAST(i.i AS DOUBLE)/(za.n + zb.n - i.i), 6) AS jaccard
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.da
       |JOIN sizes zb ON zb.doc_id = i.db
       |WHERE CAST(i.i AS DOUBLE)/(za.n + zb.n - i.i) >= 0.5""".stripMargin

  /** Per-doc 32-bit simhash CTE (ends with `sim(doc_id, simhash)`),
    * shared by the fingerprint and near-dup-pair oracles. */
  private val simhashCtes: String = {
    val sums = (1 to 32).map(p =>
      s"sum(CASE WHEN substr(h, $p, 1) >= '8' THEN 1 ELSE -1 END) s$p")
      .mkString(",\n  ")
    val bits = (1 to 32).map(p => s"(CASE WHEN s$p > 0 THEN '1' ELSE '0' END)")
      .mkString(" || ")
    s"""WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) tok FROM documents),
       |h AS (SELECT doc_id, md5(tok) h FROM t),
       |ss AS (SELECT doc_id,
       |  $sums
       |  FROM h GROUP BY doc_id),
       |sim AS (SELECT doc_id, $bits AS simhash FROM ss)""".stripMargin
  }

  val textSimhashOracle: String =
    s"$simhashCtes\nSELECT doc_id, simhash FROM sim"

  /** Same banding + Hamming verify as `TextAnalysis.simhashNearDupPairs`
    * (2 bands of 16 bits, maxHamming 1). */
  val simhashPairsOracle: String = {
    val bands = (0 until 2).map(b =>
      s"SELECT doc_id, $b AS band, substr(simhash, ${1 + b * 16}, 16) AS bkey FROM sim")
      .mkString("\n  UNION ALL ")
    val equals = (1 to 32).map(p =>
      s"(CASE WHEN substr(sa.simhash, $p, 1) = substr(sb.simhash, $p, 1) THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""$simhashCtes,
       |bands AS (
       |  $bands),
       |capped AS (SELECT doc_id, band, bkey FROM (
       |    SELECT doc_id, band, bkey,
       |      count(*) OVER (PARTITION BY band, bkey) n FROM bands)
       |  WHERE n <= 1000),
       |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
       |  FROM capped a JOIN capped b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |scored AS (SELECT da, db,
       |  CAST(32 - ($equals) AS INT) AS hamming
       |  FROM cand
       |  JOIN sim sa ON sa.doc_id = da
       |  JOIN sim sb ON sb.doc_id = db)
       |SELECT da AS doc_a, db AS doc_b, hamming FROM scored
       |WHERE hamming <= 1""".stripMargin
  }

  /** Mean-token-length / stopword-ratio SQL over a `toks` list column —
    * ONE definition spliced into both textStatsOracle and
    * qualityGateOracle, mirroring the shared Scala helpers in
    * TextAnalysis (divergent copies would silently split the engines on
    * hash-compared columns). */
  private val mtlSql =
    "CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks)"
  private val stopRatioSql =
    "CAST(len(list_filter(toks, t -> " +
      "list_contains(['the','a','and','of','to','in','is'], t))) AS DOUBLE) / len(toks)"

  val textStatsOracle: String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') toks FROM documents)
       |SELECT doc_id,
       |  length(text) AS n_chars_utf8,
       |  len(toks) AS n_tokens,
       |  len(list_distinct(toks)) AS n_unique_tokens,
       |  round($mtlSql, 6) AS mean_token_len,
       |  round($stopRatioSql, 6) AS stopword_ratio,
       |  round(CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS DOUBLE)
       |        / length(text), 6) AS punct_ratio,
       |  len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS n_bpe_tokens
       |FROM t""".stripMargin

  val corpusStatsOracle: String =
    """WITH t AS (SELECT lang, n_chars,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS toks FROM documents)
      |SELECT lang, count(*) AS n_docs,
      |  CAST(sum(toks) AS BIGINT) AS n_tokens,
      |  round(avg(n_chars), 6) AS mean_chars,
      |  round(median(n_chars), 6) AS median_chars
      |FROM t GROUP BY ROLLUP(lang)""".stripMargin

  /** Same total order (n_chars DESC, doc_id) as the Spark window. */
  val topDocsPerSourceOracle: String =
    """WITH r AS (SELECT source, doc_id, n_chars,
      |  CAST(row_number() OVER (PARTITION BY source
      |    ORDER BY n_chars DESC, doc_id) AS INT) AS "rank"
      |  FROM documents)
      |SELECT source, "rank", doc_id, n_chars FROM r WHERE "rank" <= 3""".stripMargin

  /** Norms rounded to 6 dp on BOTH sides before the percentiles, so
    * the interpolation runs over bit-identical inputs (same float→
    * double cast + x*x sum as the centroids oracle, whose mean_norm
    * pins the equivalence). */
  val embeddingNormProfileOracle: String =
    """WITH v AS (SELECT label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT label,
      |  round(sqrt(list_sum(list_transform(v, x -> x*x))), 6) AS nrm FROM v)
      |SELECT label, count(*) AS n_rows, round(avg(nrm), 6) AS mean,
      |  round(quantile_cont(nrm, 0.10), 6) AS p10,
      |  round(quantile_cont(nrm, 0.25), 6) AS p25,
      |  round(quantile_cont(nrm, 0.50), 6) AS p50,
      |  round(quantile_cont(nrm, 0.75), 6) AS p75,
      |  round(quantile_cont(nrm, 0.90), 6) AS p90,
      |  round(quantile_cont(nrm, 0.99), 6) AS p99
      |FROM n GROUP BY label""".stripMargin

  /** `quantile_cont` is DuckDB's linear-interpolated quantile — the
    * same definition as Spark's exact `percentile`, so values match
    * bit-for-bit after the shared round-6. */
  val docLengthQuantilesOracle: String =
    """SELECT source, count(*) AS n_rows,
      |  round(avg(n_chars), 6) AS mean,
      |  round(quantile_cont(n_chars, 0.10), 6) AS p10,
      |  round(quantile_cont(n_chars, 0.25), 6) AS p25,
      |  round(quantile_cont(n_chars, 0.50), 6) AS p50,
      |  round(quantile_cont(n_chars, 0.75), 6) AS p75,
      |  round(quantile_cont(n_chars, 0.90), 6) AS p90,
      |  round(quantile_cont(n_chars, 0.99), 6) AS p99
      |FROM documents GROUP BY source""".stripMargin

  /** Same md5-prefix thresholds as `TextAnalysis.hashSplit`. */
  val docSplitOracle: String =
    """WITH s AS (SELECT doc_id, n_chars,
      |  CASE WHEN substr(md5(text), 1, 2) < 'cd' THEN 'train'
      |       WHEN substr(md5(text), 1, 2) < 'e6' THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM documents)
      |SELECT split, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
      |  min(doc_id) AS min_doc_id
      |FROM s GROUP BY split""".stripMargin

  val langIdOracle: String = {
    val sets = Seq(
      "en" -> Seq("the", "a", "and", "of", "to"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "es" -> Seq("el", "los", "y", "que", "una"))
    val scores = sets.map { case (l, ws) =>
      val arr = ws.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter(toks, t -> list_contains($arr, t))) AS score_$l"
    }.mkString(",\n  ")
    val langs = sets.map(_._1)
    val cases = langs.map { l =>
      val geAll = langs.filter(_ != l).map(o => s"score_$l >= score_$o").mkString(" AND ")
      s"WHEN score_$l > 0 AND $geAll THEN '$l'"
    }.mkString("\n    ")
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
       |s AS (SELECT doc_id,
       |  $scores
       |  FROM t)
       |SELECT doc_id, score_en, score_de, score_fr, score_es,
       |  CASE $cases
       |    ELSE 'und' END AS predicted_lang
       |FROM s""".stripMargin
  }

  /** Replicates [[graft.text.TextAnalysis.langIdTrained]] weight for
    * weight (r20): the same char-trigram explode (1-based substr over
    * codepoints in both engines), the classifier family's md5-bucket
    * hash and md5-ordered 256-doc labeled sample, per-(lang, bucket)
    * add-one-smoothed µ-int log-likelihoods (one exact-integer division
    * + one ln — the trainNbWeights residual-risk class), integer-exact
    * Σ count·w, and the µ-int per-trigram mean argmax with the
    * declaration-order tie rule. */
  val langIdTrainedOracle: String = {
    val langs = TextAnalysis.LangIdLangs
    val langList = langs.map(l => s"'$l'").mkString("[", ", ", "]")
    val pivots = langs
      .map(l => s"max(CASE WHEN lang = '$l' THEN m END) AS m_$l")
      .mkString(",\n    ")
    val cases = langs.map { l =>
      val ge = langs.filter(_ != l).map(o => s"p.m_$l >= p.m_$o")
        .mkString(" AND ")
      s"WHEN p.m_$l IS NOT NULL AND $ge THEN '$l'"
    }.mkString("\n    ")
    val scoreCols = langs.map(l => s"p.m_$l / 1000000.0 AS score_$l")
      .mkString(",\n  ")
    s"""WITH tt AS (SELECT doc_id, unnest(list_transform(
       |    range(greatest(len(text) - 2, 0)), i -> substr(text, i + 1, 3)))
       |    AS tri
       |  FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT doc_id, tri, count(*) AS c FROM tt GROUP BY 1, 2),
       |h AS (SELECT doc_id, c,
       |    CAST('0x' || substr(md5(tri), 1, 8) AS BIGINT)
       |      % ${TextAnalysis.LangIdBuckets} AS b
       |  FROM tf),
       |trn AS (SELECT doc_id, lang FROM documents WHERE text IS NOT NULL
       |  ORDER BY md5('${TextAnalysis.LangIdSalt}:' || CAST(doc_id AS VARCHAR)),
       |    doc_id LIMIT ${TextAnalysis.LangIdTrainN}),
       |pc AS (SELECT trn.lang, h.b, CAST(sum(h.c) AS BIGINT) AS c
       |  FROM h JOIN trn USING (doc_id) GROUP BY 1, 2),
       |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS t FROM pc GROUP BY 1),
       |lg AS (SELECT unnest($langList) AS lang),
       |bk AS (SELECT unnest(generate_series(0, ${TextAnalysis.LangIdBuckets - 1})) AS b),
       |wt AS (SELECT lg.lang, bk.b,
       |    CAST(floor(1e6 * ln(CAST(coalesce(pc.c, 0) + 1 AS DOUBLE)
       |      / (coalesce(tot.t, 0) + ${TextAnalysis.LangIdBuckets})) + 0.5)
       |      AS BIGINT) AS w
       |  FROM lg CROSS JOIN bk
       |  LEFT JOIN pc ON pc.lang = lg.lang AND pc.b = bk.b
       |  LEFT JOIN tot ON tot.lang = lg.lang),
       |sc AS (SELECT h.doc_id, wt.lang,
       |    CAST(sum(h.c * wt.w) AS BIGINT) AS s,
       |    CAST(sum(h.c) AS BIGINT) AS n
       |  FROM h JOIN wt ON wt.b = h.b GROUP BY 1, 2),
       |ml AS (SELECT doc_id, lang,
       |    CAST(floor(CAST(s AS DOUBLE) / n + 0.5) AS BIGINT) AS m FROM sc),
       |piv AS (SELECT doc_id,
       |    $pivots
       |  FROM ml GROUP BY doc_id)
       |SELECT d.doc_id,
       |  $scoreCols,
       |  CASE $cases
       |    ELSE 'und' END AS predicted_lang
       |FROM documents d LEFT JOIN piv p ON p.doc_id = d.doc_id""".stripMargin
  }

  /** LEFT join on the shared id key + per-source rollup; the ppm ratio
    * uses integer division on both engines (DuckDB `//` floors, Spark
    * long/long truncates — identical on non-negative counts). */
  val embeddingCoverageOracle: String =
    """WITH v AS (SELECT DISTINCT vec_id FROM embeddings)
      |SELECT d.source, count(*) AS n_docs,
      |       count(v.vec_id) AS n_embedded,
      |       CAST(count(v.vec_id) * 1000000 // count(*) AS BIGINT)
      |         AS coverage_ppm
      |FROM documents d LEFT JOIN v ON v.vec_id = d.doc_id
      |GROUP BY 1""".stripMargin

  /** Replicates [[graft.text.TextAnalysis.langIdMargin]]: the trained
    * oracle nested, µ-ints recovered from the 6-dp scores by the same
    * exact floor round-trip, per-row DESC sort with NULLS LAST (the
    * Spark sort_array desc convention), top-2 gap gated at the default
    * 500000 µ. */
  val langIdMarginOracle: String = {
    val micros = TextAnalysis.LangIdLangs
      .map(l => s"CAST(floor(score_$l * 1e6 + 0.5) AS BIGINT)")
      .mkString(", ")
    s"""WITH li AS ($langIdTrainedOracle),
       |mm AS (SELECT doc_id, predicted_lang,
       |    list_sort([$micros], 'DESC', 'NULLS LAST') AS s
       |  FROM li)
       |SELECT doc_id, predicted_lang,
       |  s[1] - s[2] AS margin_micro,
       |  CASE WHEN predicted_lang <> 'und'
       |    AND s[1] - s[2] >= ${TextAnalysis.LangIdMinMarginMicro}
       |    THEN predicted_lang ELSE 'und' END AS routed_lang
       |FROM mm""".stripMargin
  }

  /** Margin-gated language routing (r20) — the confidence knob on the
    * trained classifier; shares the memoized weights + trigram frame. */
  val langIdMarginQ: (SparkSession, String) => DataFrame =
    memoized("langIdMargin") { (spark, sfDir) =>
      TextAnalysis.langIdMargin(docs(spark, sfDir),
        sharedTri = Some(docTriCounts(spark, sfDir)),
        weights = Some(lidWeights(spark, sfDir)))
    }

  /** The TRAINED lang-id oracle as a subquery + the label lookup (r20:
    * the confusion matrix now grades the trained classifier — its whole
    * point is deciding whether the labels can drive mixing). */
  val langConfusionOracle: String =
    s"""SELECT d.lang AS label_lang, p.predicted_lang, count(*) AS n_docs
       |FROM ($langIdTrainedOracle) p
       |JOIN documents d ON d.doc_id = p.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** Same signals, thresholds, and rule order as
    * `TextAnalysis.qualityGate`'s defaults; gates compare the unrounded
    * doubles (identical IEEE divisions on both engines). `rel`
    * parameterizes the source relation (r19: the epoch materializer
    * gates the NULL-text-filtered corpus its plan counted). */
  def qualityGateOracleFrom(rel: String): String =
    s"""WITH t AS (SELECT doc_id, text, string_split(text, ' ') toks FROM $rel),
      |m AS (SELECT doc_id,
      |  CAST(len(toks) AS INT) AS n_tokens,
      |  $mtlSql AS mtl,
      |  $stopRatioSql AS stop,
      |  CASE WHEN len(toks) >= 3 THEN
      |    1.0 - CAST(len(list_distinct(list_transform(range(len(toks) - 2),
      |      i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS DOUBLE)
      |      / (len(toks) - 2)
      |  ELSE 0.0 END AS rep
      |  FROM t),
      |g AS (SELECT doc_id, n_tokens, mtl, stop, rep,
      |  CASE WHEN n_tokens < 30 THEN 'too_short'
      |       WHEN n_tokens > 5000 THEN 'too_long'
      |       WHEN mtl < 2.0 OR mtl > 12.0 THEN 'bad_token_len'
      |       WHEN stop < 0.02 THEN 'low_stopword'
      |       WHEN rep > 0.05 THEN 'repetitive'
      |       ELSE 'pass' END AS reason
      |  FROM m)
      |SELECT doc_id, n_tokens, round(mtl, 6) AS mean_token_len,
      |       round(stop, 6) AS stopword_ratio, round(rep, 6) AS rep_ratio,
      |       reason, reason = 'pass' AS keep
      |FROM g""".stripMargin

  val qualityGateOracle: String = qualityGateOracleFrom("documents")

  /** Replicates [[graft.text.TextAnalysis.selectTokenBudget]]: the gate
    * oracle supplies the identical priority signals (keep + 6-dp-rounded
    * rep_ratio), the serial window form the oracle can afford replays
    * the two-pass prefix value for value, and admission is the same
    * strict before < budget greedy. */
  val selectTokenBudgetOracle: String =
    s"""WITH g AS ($qualityGateOracle),
       |m AS (SELECT g.doc_id, d.source, g.n_tokens, g.rep_ratio,
       |    CASE WHEN g.keep THEN 0 ELSE 1 END AS pk
       |  FROM g JOIN documents d ON d.doc_id = g.doc_id),
       |c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
       |    PARTITION BY source ORDER BY pk, rep_ratio, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |  AS before_tokens FROM m)
       |SELECT doc_id, source, n_tokens, rep_ratio, before_tokens,
       |  before_tokens < 800 AS selected
       |FROM c""".stripMargin

  /** The gate oracle as a subquery + the source lookup — same
    * composition as the Spark side (passThrough ≡ the doc_id join). */
  val qualityBySourceOracle: String =
    s"""SELECT d.source, g.reason, count(*) AS n_docs
       |FROM ($qualityGateOracle) g
       |JOIN documents d ON d.doc_id = g.doc_id
       |GROUP BY 1, 2""".stripMargin

  /** Training + token-bucket CTEs shared by the classifier oracle and
    * its eval receipt — the relational replay of
    * [[graft.text.TextAnalysis.trainNbWeights]] (the ivfCentsCteSql
    * convention): the SAME hash-ordered LIMIT-256 labeled sample, the
    * SAME add-one-smoothed NB log-odds on the µ-int grid (both ratio
    * operands are exact-integer doubles, so the one division and the
    * one ln see identical IEEE inputs in both engines), buckets unseen
    * in training defaulting to the smoothed prior via the LEFT join
    * against the full bucket range. Emits `h(doc_id, c, b)`,
    * `trn(doc_id, y)` and `wt(b, w)`. */
  private val qualityClassifierTrainCte: String =
    """t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |           FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT doc_id, token, count(*) AS c FROM t
      |       GROUP BY doc_id, token),
      |h AS (SELECT doc_id, c,
      |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 4096 AS b
      |  FROM tf),
      |trn AS (SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM documents WHERE text IS NOT NULL
      |  ORDER BY md5('qcls:' || CAST(doc_id AS VARCHAR)), doc_id LIMIT 256),
      |pc AS (SELECT h.b,
      |    CAST(sum(CASE WHEN trn.y = 1 THEN h.c ELSE 0 END) AS BIGINT) AS ct,
      |    CAST(sum(CASE WHEN trn.y = 0 THEN h.c ELSE 0 END) AS BIGINT) AS cn
      |  FROM h JOIN trn ON trn.doc_id = h.doc_id GROUP BY h.b),
      |tot AS (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) AS t_pos,
      |               CAST(coalesce(sum(cn), 0) AS BIGINT) AS t_neg FROM pc),
      |wt AS (SELECT g.b,
      |    CAST(floor(1e6 * ln(
      |        CAST((coalesce(pc.ct, 0) + 1) * (tot.t_neg + 4096) AS DOUBLE)
      |      / CAST((coalesce(pc.cn, 0) + 1) * (tot.t_pos + 4096) AS DOUBLE))
      |      + 0.5) AS BIGINT) AS w
      |  FROM (SELECT unnest(generate_series(0, 4095)) AS b) g
      |  LEFT JOIN pc ON pc.b = g.b CROSS JOIN tot)""".stripMargin

  /** Replicates [[graft.text.TextAnalysis.hashedLinearScore]] under the
    * TRAINED weights, weight-for-weight: the training CTEs above, the
    * same token→bucket hash, and the same integer-exact Σ count·w
    * before the single IEEE division — scores match bit-for-bit, no
    * float-sum order sensitivity. */
  val qualityClassifierOracle: String =
    s"""WITH $qualityClassifierTrainCte
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(c * wt.w) AS DOUBLE)
      |    / CAST(sum(c) AS BIGINT)) / 1000000.0 AS logit,
      |  round(CAST(sum(c * wt.w) AS DOUBLE)
      |    / CAST(sum(c) AS BIGINT)) / 1000000.0 >= 0.0 AS keep
      |FROM h JOIN wt USING (b) GROUP BY doc_id""".stripMargin

  /** The µ-int logistic-regression FIT unrolled as DuckDB CTEs — the
    * relational replay of [[graft.text.TextAnalysis.trainLrWeights]]:
    * epoch e reads weight table lw{e-1}, computes each sampled doc's
    * µ-int margin (floor(Σc·w/n + 0.5)), its quantized sigmoid
    * (floor(1e6/(1+exp(−m/1e6)) + 0.5) — the one transcendental, the NB
    * oracle's single-ln residual-risk class), the per-bucket integer
    * gradient, and the floor-gridded update; lw0 is all zeros over the
    * full bucket range. Reuses the shared training CTEs (h/trn — the
    * same hash-ordered LIMIT-256 sample; the NB-only CTEs prune away
    * unreferenced). */
  private def qualityClassifierLrCtes(epochs: Int, lr: Long): String = {
    val base =
      """ht AS (SELECT h.doc_id, trn.y, h.b, CAST(sum(h.c) AS BIGINT) AS c
        |  FROM h JOIN trn USING (doc_id) GROUP BY h.doc_id, trn.y, h.b),
        |ns AS (SELECT count(DISTINCT doc_id) AS n FROM ht),
        |lw0 AS (SELECT unnest(generate_series(0, 4095)) AS b,
        |  CAST(0 AS BIGINT) AS w)""".stripMargin
    val rounds = (1 to epochs).map { e =>
      s"""rs$e AS (SELECT ht.doc_id, CAST(sum(ht.c) AS BIGINT) AS nd,
         |    max(ht.y) * 1000000 - CAST(floor(1000000.0 / (1.0 + exp(
         |      -(CAST(floor(CAST(sum(ht.c * w.w) AS DOUBLE)
         |          / CAST(sum(ht.c) AS BIGINT) + 0.5) AS BIGINT)
         |        / 1000000.0))) + 0.5) AS BIGINT) AS r
         |  FROM ht JOIN lw${e - 1} w ON w.b = ht.b GROUP BY ht.doc_id),
         |g$e AS (SELECT ht.b,
         |    CAST(sum(floor(r.r * ht.c / CAST(r.nd AS DOUBLE) + 0.5))
         |      AS BIGINT) AS g
         |  FROM ht JOIN rs$e r USING (doc_id) GROUP BY ht.b),
         |lw$e AS (SELECT w.b, w.w + CAST(floor(
         |      CAST(coalesce(g.g, 0) * $lr AS DOUBLE) / ns.n + 0.5) AS BIGINT)
         |    AS w
         |  FROM lw${e - 1} w LEFT JOIN g$e g USING (b) CROSS JOIN ns)""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** Replicates [[qualityClassifierLrQ]]: the LR fit CTEs above, then
    * the identical integer-exact scoring join as the NB oracle. */
  val qualityClassifierLrOracle: String =
    s"""WITH $qualityClassifierTrainCte,
      |${qualityClassifierLrCtes(qclsLrEpochs, qclsLrRate)}
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |  round(CAST(sum(c * wt.w) AS DOUBLE)
      |    / CAST(sum(c) AS BIGINT)) / 1000000.0 AS logit,
      |  round(CAST(sum(c * wt.w) AS DOUBLE)
      |    / CAST(sum(c) AS BIGINT)) / 1000000.0 >= 0.0 AS keep
      |FROM h JOIN lw$qclsLrEpochs wt USING (b) GROUP BY doc_id""".stripMargin

  /** Replicates [[graft.text.TextAnalysis.classifierEval]]: scores the
    * held-out documents (NOT IN the training sample) under the trained
    * weights, then the exact tie-aware Mann–Whitney AUC in integer
    * space (µ-int score keys, 2U accumulated over distinct scores) and
    * the per-class µ-int mean logits. */
  /** The eval tail parameterized by the weight relation — ONE definition
    * for the NB and LR receipts (divergent copies would silently split
    * the engines on the AUC arithmetic). */
  private def classifierEvalTailSql(wtRel: String): String =
    s"""sc AS (SELECT doc_id,
      |    CAST(round(CAST(sum(c * wt.w) AS DOUBLE)
      |      / CAST(sum(c) AS BIGINT)) AS BIGINT) AS s
      |  FROM h JOIN $wtRel wt USING (b) GROUP BY doc_id),
      |ev AS (SELECT sc.s, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
      |  FROM sc JOIN documents d USING (doc_id)
      |  WHERE sc.doc_id NOT IN (SELECT doc_id FROM trn)),
      |bys AS (SELECT s, CAST(sum(y) AS BIGINT) AS p,
      |               CAST(sum(1 - y) AS BIGINT) AS q FROM ev GROUP BY s),
      |byw AS (SELECT s, p, q, CAST(coalesce(sum(q) OVER (ORDER BY s
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS qb
      |  FROM bys),
      |agg AS (SELECT CAST(sum(p) AS BIGINT) AS n_pos,
      |               CAST(sum(q) AS BIGINT) AS n_neg,
      |               CAST(sum(p * (2 * qb + q)) AS BIGINT) AS u2 FROM byw),
      |mn AS (SELECT
      |    floor(CAST(sum(CASE WHEN y = 1 THEN s END) AS DOUBLE)
      |      / count(CASE WHEN y = 1 THEN 1 END) + 0.5) / 1000000.0
      |      AS mean_logit_pos,
      |    floor(CAST(sum(CASE WHEN y = 0 THEN s END) AS DOUBLE)
      |      / count(CASE WHEN y = 0 THEN 1 END) + 0.5) / 1000000.0
      |      AS mean_logit_neg
      |  FROM ev)
      |SELECT n_pos, n_neg, mean_logit_pos, mean_logit_neg,
      |  CASE WHEN n_pos * n_neg > 0 THEN
      |    floor(CAST(u2 AS DOUBLE) * 1000000.0
      |      / (2.0 * n_pos * n_neg) + 0.5) / 1000000.0 END AS auc
      |FROM agg CROSS JOIN mn""".stripMargin

  val qualityClassifierEvalOracle: String =
    s"""WITH $qualityClassifierTrainCte,
      |${classifierEvalTailSql("wt")}""".stripMargin

  /** Held-out separation receipt for the LR-trained model — the same
    * eval tail over the epoch-unrolled LR weights. */
  val qualityClassifierLrEvalOracle: String =
    s"""WITH $qualityClassifierTrainCte,
      |${qualityClassifierLrCtes(qclsLrEpochs, qclsLrRate)},
      |${classifierEvalTailSql(s"lw$qclsLrEpochs")}""".stripMargin

  /** Same hashed-unigram DSIR construction as `TextAnalysis.dsirWeights`:
    * identical md5 bucketing, add-one-smoothed target/raw multinomials
    * with integer-exact numerators and denominators, ln of the same IEEE
    * divisions, counts-weighted sum per doc. */
  val dsirWeightsOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |           FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT doc_id, token, count(*) AS c FROM t GROUP BY 1, 2),
      |h AS (SELECT doc_id, c,
      |    CAST('0x' || substr(md5(token), 1, 8) AS BIGINT) % 1024 AS b
      |  FROM tf),
      |tc AS (SELECT b, CAST(sum(c) AS BIGINT) AS ct FROM h
      |       JOIN documents d USING (doc_id)
      |       WHERE d.lang = 'en' AND d.source = 'src0' GROUP BY b),
      |rc AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM h GROUP BY b),
      |tt AS (SELECT CAST(sum(ct) AS BIGINT) AS tT FROM tc),
      |rt AS (SELECT CAST(sum(cr) AS BIGINT) AS rT FROM rc),
      |m AS (SELECT rc.b,
      |    ln(CAST(COALESCE(ct, 0) + 1 AS DOUBLE)
      |       / CAST(tT + 1024 AS DOUBLE))
      |  - ln(CAST(cr + 1 AS DOUBLE) / CAST(rT + 1024 AS DOUBLE)) AS lr
      |  FROM rc LEFT JOIN tc USING (b) CROSS JOIN tt CROSS JOIN rt)
      |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
      |       round(sum(c * lr), 6) AS log_ratio,
      |       round(sum(c * lr) / CAST(sum(c) AS BIGINT), 6) AS avg_log_ratio
      |FROM h JOIN m USING (b) GROUP BY doc_id""".stripMargin

  val docLogprobOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |           FROM documents),
      |f AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
      |tot AS (SELECT count(*) AS total FROM t),
      |lp AS (SELECT doc_id, ln(CAST(tf AS DOUBLE) / total) AS l
      |       FROM t JOIN f USING (token) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_tokens, round(avg(l), 6) AS avg_logprob,
      |       round(exp(-avg(l)), 6) AS perplexity
      |FROM lp GROUP BY doc_id""".stripMargin

  /** Same MLE bigram model as `TextAnalysis.bigramLogProb`: counts from
    * the identical shingle construction, prefix totals folded from the
    * bigram counts, ln of the same double division. */
  val docLogprobBigramOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
      |           FROM documents WHERE text IS NOT NULL),
      |bg AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 1), i ->
      |  toks[i+1] || ' ' || toks[i+2])) AS bigram
      |  FROM t WHERE len(toks) >= 2),
      |bc AS (SELECT bigram, count(*) AS bc FROM bg GROUP BY bigram),
      |pc AS (SELECT string_split(bigram, ' ')[1] AS pfx,
      |       CAST(sum(bc) AS BIGINT) AS pc FROM bc GROUP BY 1),
      |sc AS (SELECT doc_id, ln(CAST(b.bc AS DOUBLE) / p.pc) AS lp
      |  FROM bg JOIN bc b USING (bigram)
      |  JOIN pc p ON p.pfx = string_split(bg.bigram, ' ')[1])
      |SELECT doc_id, count(*) AS n_bigrams, round(avg(lp), 6) AS avg_logprob,
      |       round(exp(-avg(lp)), 6) AS perplexity
      |FROM sc GROUP BY doc_id""".stripMargin

  /** Same bigram construction as `TextOps.shingles(_, 2)` and the same
    * 0.18 top-bigram threshold as `TextAnalysis.repetitionStats`. The
    * `[NULL]` CASE arm mirrors `explode_outer`: sub-bigram documents
    * survive with one NULL occurrence that `count(bigram)` ignores. */
  val docRepetitionOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |s AS (SELECT doc_id, len(toks) AS n_tokens,
      |             len(list_distinct(toks)) AS nd,
      |             unnest(CASE WHEN len(toks) >= 2
      |                         THEN list_transform(range(len(toks) - 1),
      |                              i -> toks[i+1] || ' ' || toks[i+2])
      |                         ELSE [NULL] END) AS bigram
      |      FROM t),
      |c AS (SELECT doc_id, n_tokens, nd, bigram, count(bigram) AS c
      |      FROM s GROUP BY 1, 2, 3, 4),
      |g AS (SELECT doc_id, n_tokens, nd, sum(c) AS nb, max(c) AS top,
      |             count(CASE WHEN c > 0 THEN 1 END) AS ndb
      |      FROM c GROUP BY 1, 2, 3)
      |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
      |       round(1 - CAST(nd AS DOUBLE) / n_tokens, 6) AS dup_word_frac,
      |       round(CASE WHEN nb > 0 THEN 1 - CAST(ndb AS DOUBLE) / nb
      |                  ELSE 0 END, 6) AS dup_bigram_frac,
      |       round(CASE WHEN nb > 0 THEN CAST(top AS DOUBLE) / nb
      |                  ELSE 0 END, 6) AS top_bigram_frac,
      |       (CASE WHEN nb > 0 THEN CAST(top AS DOUBLE) / nb ELSE 0 END)
      |         > 0.18 AS repetitive
      |FROM g""".stripMargin

  /** Same substring pairing (`substr(word, i, 2)` for i in 1..len-1) and
    * k=50 cutoff as `TextAnalysis.bpeMergeCandidates`; DuckDB `range` of
    * a non-positive bound is empty, matching the Spark `when` guard. */
  val bpeMergesOracle: String =
    """WITH w AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
      |v AS (SELECT word, count(*) AS wc FROM w GROUP BY word),
      |p AS (SELECT wc, unnest(list_transform(range(length(word) - 1),
      |                        i -> substr(word, i + 1, 2))) AS pair
      |      FROM v)
      |SELECT pair, CAST(sum(wc) AS BIGINT) AS n_occurrences
      |FROM p GROUP BY pair
      |ORDER BY n_occurrences DESC, pair LIMIT 50""".stripMargin

  /** Same 'mix' salt, (mix_key, doc_id) rank order, and 0.8 downsample
    * fraction as the registered `TextAnalysis.uniformSourceMix` call; the
    * single-row quota subquery mirrors the driver-literal fold on the
    * Spark side (floor of an IEEE product — identical in both engines). */
  val sourceMixOracle: String =
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |q AS (SELECT greatest(1, CAST(floor(min(n) * 0.8) AS BIGINT)) AS quota
      |      FROM c),
      |r AS (SELECT doc_id, source, md5('mix:' || text) AS mix_key,
      |             row_number() OVER (PARTITION BY source
      |               ORDER BY md5('mix:' || text), doc_id) AS mix_rank
      |      FROM documents)
      |SELECT doc_id, source, mix_key, CAST(mix_rank AS INT) AS mix_rank
      |FROM r, q WHERE mix_rank <= quota""".stripMargin

  /** Same α=0.5 geometric quota `floor(round(n^α · mn^(1-α) · 0.9, 6))`,
    * 'tmix' salt, and (mix_key, doc_id) rank order as the registered
    * `TextAnalysis.temperatureSourceMix` call; the round-before-floor
    * pins the IEEE pow product identically in both engines. */
  val sourceMixTemperatureOracle: String =
    """WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
      |m AS (SELECT min(n) AS mn FROM c),
      |q AS (SELECT source, greatest(1, CAST(floor(round(
      |        pow(n, 0.5) * pow(mn, 0.5) * 0.9, 6)) AS BIGINT)) AS quota
      |      FROM c, m),
      |r AS (SELECT doc_id, source, md5('tmix:' || text) AS mix_key,
      |             row_number() OVER (PARTITION BY source
      |               ORDER BY md5('tmix:' || text), doc_id) AS mix_rank
      |      FROM documents)
      |SELECT r.doc_id, r.source, r.mix_key, CAST(r.mix_rank AS INT) AS mix_rank,
      |       q.quota
      |FROM r JOIN q USING (source) WHERE mix_rank <= quota""".stripMargin

  /** Same salt, thresholds and lang precedence as
    * `TextAnalysis.stratifiedSample`'s defaults. */
  val sampleStratifiedOracle: String =
    """WITH s AS (SELECT doc_id, lang,
      |  substr(md5('sample:' || text), 1, 4) AS sample_key FROM documents)
      |SELECT doc_id, lang, sample_key FROM s
      |WHERE sample_key < CASE WHEN lang = 'en' THEN '8000'
      |                        WHEN lang = 'de' THEN '4000'
      |                        ELSE '1999' END""".stripMargin

  val docChunksOracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |           WHERE len(string_split(text, ' ')) > 0),
      |c AS (SELECT doc_id, toks,
      |  unnest(range(CAST(ceil(len(toks) / 32.0) AS INT))) AS i FROM t),
      |s AS (SELECT doc_id, CAST(i AS INT) AS chunk_no,
      |  toks[i*32+1 : least((i+1)*32, len(toks))] AS chunk FROM c)
      |SELECT doc_id, chunk_no, CAST(len(chunk) AS INT) AS n_chunk_tokens,
      |       md5(array_to_string(chunk, ' ')) AS checksum FROM s""".stripMargin

  val similarityTopKOracle: String =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
      |q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < 8),
      |pairs AS (
      |  SELECT q.query_id, e.vec_id neighbor_id,
      |    list_sum(list_transform(range(64), i -> qv[i+1] * v[i+1])) dot,
      |    sqrt(list_sum(list_transform(qv, x -> x*x))) nq,
      |    sqrt(list_sum(list_transform(v, x -> x*x))) nv
      |  FROM q JOIN e ON e.vec_id <> q.query_id),
      |scored AS (SELECT query_id, neighbor_id,
      |  round(dot/(nq*nv), 6) cosine FROM pairs),
      |ranked AS (SELECT query_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY query_id
      |    ORDER BY cosine DESC, neighbor_id) AS INT) rank FROM scored)
      |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** Majority vote over the brute-force top-k oracle's neighbor sets
    * (nested verbatim), ties to the smaller label — same as
    * `Similarity.knnLabelAudit`. */
  val knnLabelAuditOracle: String =
    s"""WITH nb AS (SELECT query_id, neighbor_id FROM (
       |$similarityTopKOracle
       |) z),
       |lb AS (SELECT vec_id, label FROM embeddings),
       |votes AS (SELECT query_id, label, count(*) AS n_votes
       |  FROM nb JOIN lb ON lb.vec_id = nb.neighbor_id GROUP BY 1, 2),
       |top AS (SELECT query_id, label AS predicted_label, n_votes FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY n_votes DESC, label) rn FROM votes) WHERE rn = 1)
       |SELECT t.query_id, lb.label AS true_label, t.predicted_label,
       |  t.n_votes, t.predicted_label = lb.label AS agree
       |FROM top t JOIN lb ON lb.vec_id = t.query_id""".stripMargin

  /** Same Lloyd-TRAINED coarse centroids (r13 —
    * `Similarity.ivfCentsCteSql` replays the training value for value) /
    * rounded-cosine argmax assignment / probe-and-rerank as
    * `Similarity.ivfHashTopK`. Cosines round to 6 dp BEFORE every rank
    * so engine-ulp noise can't flip an argmax or a neighbor rank.
    * Since r14 this IS the parameterized generator at the registered
    * knobs — keeping the old hand-written copy alongside it would let a
    * future tie-rule change silently diverge the two (review finding). */
  val similarityIvfOracle: String = Similarity.ivfHashTopKOracleSql(
    nQueries = 8, k = 5, nCells = 16, nProbe = 4,
    rounds = Similarity.IvfTrainRounds, dim = 64)

  /** The three neighbor oracles nested verbatim; recall is a LEFT join
    * from the exact list (a short approximate list scores low) counted
    * over the per-query exact-list size (== 5 here) — exact count/count
    * arithmetic, no rounding. */
  val annRecallOracle: String =
    s"""WITH brute AS (SELECT query_id, neighbor_id FROM (
       |$similarityTopKOracle
       |) z),
       |ivf AS (SELECT query_id, neighbor_id FROM (
       |$similarityIvfOracle
       |) z),
       |ivfpq AS (SELECT query_id, neighbor_id FROM (
       |${Similarity.ivfPqResidualTopKOracleSql()}
       |) z),
       |ivfpqflat AS (SELECT query_id, neighbor_id FROM (
       |${Similarity.ivfPqTopKOracleSql()}
       |) z),
       |lsh AS (SELECT query_id, neighbor_id FROM (
       |${Similarity.lshTopKOracleSql()}
       |) z),
       |pqscan AS (SELECT query_id, neighbor_id FROM (
       |${Similarity.adcTopKOracleSql()}
       |) z),
       |r_pq AS (SELECT 'pq' AS method, b.query_id,
       |  CAST(count(q.neighbor_id) AS DOUBLE) / count(DISTINCT b.neighbor_id) AS recall_at_k
       |  FROM brute b LEFT JOIN pqscan q
       |    ON q.query_id = b.query_id AND q.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id),
       |r_ivf AS (SELECT 'ivf' AS method, b.query_id,
       |  CAST(count(i.neighbor_id) AS DOUBLE) / count(DISTINCT b.neighbor_id) AS recall_at_k
       |  FROM brute b LEFT JOIN ivf i
       |    ON i.query_id = b.query_id AND i.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id),
       |r_ivfpq AS (SELECT 'ivfpq' AS method, b.query_id,
       |  CAST(count(p.neighbor_id) AS DOUBLE) / count(DISTINCT b.neighbor_id) AS recall_at_k
       |  FROM brute b LEFT JOIN ivfpq p
       |    ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id),
       |r_ivfpqflat AS (SELECT 'ivfpq_flat' AS method, b.query_id,
       |  CAST(count(p.neighbor_id) AS DOUBLE) / count(DISTINCT b.neighbor_id) AS recall_at_k
       |  FROM brute b LEFT JOIN ivfpqflat p
       |    ON p.query_id = b.query_id AND p.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id),
       |ivfpqrr AS (SELECT query_id, neighbor_id FROM (
       |${Similarity.ivfPqResidualTopKRefinedOracleSql()}
       |) z),
       |r_lsh AS (SELECT 'lsh' AS method, b.query_id,
       |  CAST(count(l.neighbor_id) AS DOUBLE) / count(DISTINCT b.neighbor_id) AS recall_at_k
       |  FROM brute b LEFT JOIN lsh l
       |    ON l.query_id = b.query_id AND l.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id),
       |r_ivfpqrr AS (SELECT 'ivfpq_rerank' AS method, b.query_id,
       |  CAST(count(r.neighbor_id) AS DOUBLE) / count(DISTINCT b.neighbor_id) AS recall_at_k
       |  FROM brute b LEFT JOIN ivfpqrr r
       |    ON r.query_id = b.query_id AND r.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id),
       |ivfd2 AS (SELECT query_id, neighbor_id FROM (
       |$similarityIvfD2Oracle
       |) z),
       |r_ivfd2 AS (SELECT 'ivf_d2' AS method, b.query_id,
       |  CAST(count(d.neighbor_id) AS DOUBLE) / count(DISTINCT b.neighbor_id) AS recall_at_k
       |  FROM brute b LEFT JOIN ivfd2 d
       |    ON d.query_id = b.query_id AND d.neighbor_id = b.neighbor_id
       |  GROUP BY b.query_id)
       |SELECT method, query_id, recall_at_k FROM r_ivf
       |UNION ALL
       |SELECT method, query_id, recall_at_k FROM r_ivfd2
       |UNION ALL
       |SELECT method, query_id, recall_at_k FROM r_pq
       |UNION ALL
       |SELECT method, query_id, recall_at_k FROM r_ivfpq
       |UNION ALL
       |SELECT method, query_id, recall_at_k FROM r_ivfpqflat
       |UNION ALL
       |SELECT method, query_id, recall_at_k FROM r_ivfpqrr
       |UNION ALL
       |SELECT method, query_id, recall_at_k FROM r_lsh""".stripMargin

  /** Same coordinate-sign buckets as `Similarity.signLshNearDupPairs`. */
  val dedupEmbeddingOracle: String = {
    val tables = (0 until 8).map { t =>
      val bitExpr = (0 until 8).map(i =>
        s"(CASE WHEN v[${t * 8 + i + 1}] > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"SELECT vec_id, $t AS tbl, $bitExpr AS bucket FROM e"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |bk0 AS (
       |  $tables),
       |bk AS (SELECT * FROM (SELECT vec_id, tbl, bucket,
       |    count(*) OVER (PARTITION BY tbl, bucket) n FROM bk0)
       |  WHERE n <= 1000),
       |cand AS (SELECT DISTINCT a.vec_id va, b.vec_id vb
       |  FROM bk a JOIN bk b
       |    ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id),
       |scored AS (SELECT va AS vec_a, vb AS vec_b,
       |  round(list_sum(list_transform(range(64), i -> ea.v[i+1] * eb.v[i+1]))
       |    / (sqrt(list_sum(list_transform(ea.v, x -> x*x)))
       |       * sqrt(list_sum(list_transform(eb.v, x -> x*x)))), 6) AS cosine
       |  FROM cand JOIN e ea ON ea.vec_id = va JOIN e eb ON eb.vec_id = vb)
       |SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= 0.42""".stripMargin
  }

  /** Same coordinate-sign buckets as `Similarity.semanticDecontaminate`,
    * same `vec_id % 11` eval split, τ=0.25 floor, and best-match tie
    * order (cosine DESC, eval id DESC — the Spark struct max). */
  val decontaminateSemanticOracle: String = {
    val tables = (0 until 8).map { t =>
      val bitExpr = (0 until 8).map(i =>
        s"(CASE WHEN v[${t * 8 + i + 1}] > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"SELECT vec_id, $t AS tbl, $bitExpr AS bucket FROM e"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |bk AS (
       |  $tables),
       |cand AS (SELECT DISTINCT c.vec_id, ev.vec_id AS evid
       |  FROM bk c JOIN bk ev ON c.tbl = ev.tbl AND c.bucket = ev.bucket
       |  WHERE c.vec_id % 11 <> 0 AND ev.vec_id % 11 = 0),
       |sc AS (SELECT cand.vec_id, cand.evid,
       |  round(list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1]))
       |    / (sqrt(list_sum(list_transform(a.v, x -> x*x)))
       |       * sqrt(list_sum(list_transform(b.v, x -> x*x)))), 6) AS cos
       |  FROM cand JOIN e a ON a.vec_id = cand.vec_id
       |            JOIN e b ON b.vec_id = cand.evid),
       |hits AS (SELECT * FROM sc WHERE cos >= 0.25)
       |SELECT vec_id, agg.n_contaminants, h.evid AS contaminant_id,
       |       h.cos AS cosine
       |FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cos DESC, evid DESC) rn FROM hits) h
       |JOIN (SELECT vec_id, count(*) AS n_contaminants
       |      FROM hits GROUP BY 1) agg USING (vec_id)
       |WHERE h.rn = 1""".stripMargin
  }

  /** Same algebraic shapes as `Similarity.scalarQuantize` (division/
    * multiplication order, round on positives, left-assoc error fold via
    * list_sum) so codes and 6-dp errors are value-identical. */
  val embeddingQuantizeOracle: String =
    """WITH e AS (SELECT vec_id,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
      |dx AS (SELECT unnest(v) AS x, unnest(range(len(v))) AS dim FROM e),
      |p AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM dx GROUP BY dim),
      |pl AS (SELECT list(mn ORDER BY dim) AS mnl, list(mx ORDER BY dim) AS mxl,
      |       CAST(count(*) AS INT) AS d FROM p),
      |q AS (SELECT vec_id, d,
      |  list_transform(range(d), i ->
      |    CASE WHEN mxl[i+1] > mnl[i+1]
      |      THEN CAST(round((v[i+1] - mnl[i+1]) / (mxl[i+1] - mnl[i+1]) * 255) AS INT)
      |      ELSE 0 END) AS qv,
      |  list_transform(range(d), i ->
      |    CASE WHEN mxl[i+1] > mnl[i+1]
      |      THEN abs(v[i+1] - (mnl[i+1]
      |        + round((v[i+1] - mnl[i+1]) / (mxl[i+1] - mnl[i+1]) * 255)
      |          * (mxl[i+1] - mnl[i+1]) / 255))
      |      ELSE abs(v[i+1] - mnl[i+1]) END) AS ev
      |  FROM e CROSS JOIN pl)
      |SELECT vec_id,
      |  md5(array_to_string(list_transform(qv, x -> CAST(x AS VARCHAR)), ',')) AS checksum,
      |  round(list_sum(ev) / d, 6) AS mean_abs_err
      |FROM q""".stripMargin

  /** Same word-5-gram split/shingle pipeline as `Dedup.decontaminate`. */
  val decontaminateOracle: String =
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') toks FROM documents),
      |sh AS (SELECT doc_id, unnest(list_transform(range(len(toks) - 4), i ->
      |  toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
      |  toks[i+4] || ' ' || toks[i+5])) AS shingle
      |  FROM t WHERE len(toks) >= 5),
      |shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
      |bench AS (SELECT shingle, min(doc_id) AS bid FROM shd
      |  WHERE doc_id % $EvalHoldoutMod = 0 GROUP BY shingle),
      |train AS (SELECT doc_id, shingle FROM shd
      |  WHERE doc_id % $EvalHoldoutMod <> 0)
      |SELECT tr.doc_id AS doc_id, count(*) AS n_shared,
      |       min(b.bid) AS contaminant_id
      |FROM train tr JOIN bench b ON b.shingle = tr.shingle
      |GROUP BY tr.doc_id""".stripMargin

  /** Connected components over the minhash pair graph via a recursive
    * CTE (transitive label closure — fine at oracle scale; the Spark side
    * is the iterative distributed star contraction). */
  val dedupClustersOracle: String =
    s"""WITH RECURSIVE mhpairs AS (SELECT doc_a, doc_b FROM (
       |$dedupMinhashOracle
       |) mh),
       |edges AS (SELECT doc_a AS src, doc_b AS dst FROM mhpairs
       |          UNION SELECT doc_b, doc_a FROM mhpairs),
       |reach AS (
       |  SELECT DISTINCT src AS doc_id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.doc_id),
       |comp AS (SELECT doc_id, min(lbl) AS cluster_id FROM reach GROUP BY doc_id),
       |sized AS (SELECT cluster_id, count(*) AS cluster_size FROM comp
       |          GROUP BY cluster_id)
       |SELECT c.doc_id AS doc_id, c.cluster_id AS cluster_id,
       |       s.cluster_size AS cluster_size,
       |       c.doc_id = c.cluster_id AS is_canonical
       |FROM comp c JOIN sized s ON s.cluster_id = c.cluster_id""".stripMargin

  /** The clusters oracle re-aggregated by size — same membership CTEs. */
  val clusterSizeHistOracle: String =
    s"""SELECT cluster_size, count(DISTINCT cluster_id) AS n_clusters,
       |       count(*) AS n_docs
       |FROM ($dedupClustersOracle) m
       |GROUP BY cluster_size""".stripMargin

  /** Same 6-dp-rounded per-(label, dim) means as the embedding_centroids
    * oracle, the same µ-scaled integer distance terms as
    * `Similarity.centroidOutliers` (order-proof sum), same
    * (distance DESC, vec_id) rank. */
  val embeddingOutliersOracle: String =
    """WITH e AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
      |x AS (SELECT vec_id, label, unnest(v) AS x,
      |             unnest(range(len(v))) AS dim FROM e),
      |c AS (SELECT label, dim, round(avg(x), 6) AS m
      |      FROM x GROUP BY label, dim),
      |d AS (SELECT x.vec_id, x.label,
      |        CAST(sum(CAST(round((x.x - c.m) * (x.x - c.m) * 1e6) AS BIGINT))
      |          AS BIGINT) AS mu
      |      FROM x JOIN c ON c.label = x.label AND c.dim = x.dim
      |      GROUP BY 1, 2)
      |SELECT label, vec_id, round(mu / 1000000.0, 6) AS centroid_dist2,
      |       CAST(rank AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY label
      |        ORDER BY mu DESC, vec_id) rank FROM d)
      |WHERE rank <= 5""".stripMargin

  /** Same explode → (source, token) pre-agg → source rollup as
    * `TextAnalysis.vocabBySource`; exact counts, 6-dp rounded TTR. */
  val vocabBySourceOracle: String =
    """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS token
      |           FROM documents),
      |st AS (SELECT source, token, count(*) AS tf FROM t GROUP BY 1, 2),
      |v AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |             count(*) AS n_types FROM st GROUP BY source),
      |d AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source)
      |SELECT v.source, d.n_docs, v.n_tokens, v.n_types,
      |       round(v.n_types / CAST(v.n_tokens AS DOUBLE), 6) AS type_token_ratio
      |FROM v JOIN d USING (source)""".stripMargin

  val vocabTopKOracle: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |           FROM documents),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY doc_id, token)
      |SELECT token, CAST(sum(tf) AS BIGINT) AS n_occurrences,
      |       count(*) AS doc_freq
      |FROM tf GROUP BY token
      |ORDER BY n_occurrences DESC, token LIMIT 100""".stripMargin

  val embeddingCentroidsOracle: String =
    """WITH e AS (SELECT label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |n AS (SELECT label, v,
      |  sqrt(list_sum(list_transform(v, x -> x*x))) AS nrm FROM e),
      |x AS (SELECT label, nrm,
      |  CAST(unnest(range(len(v))) AS INT) AS dim, unnest(v) AS x FROM n)
      |SELECT label, dim, count(*) AS n_vectors,
      |       round(avg(x), 6) AS centroid, round(avg(nrm), 6) AS mean_norm
      |FROM x GROUP BY label, dim""".stripMargin

  val textWinnowOracle: String =
    s"""$shingleCtes,
       |ph AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM (
       |  SELECT doc_id, unnest(list_transform(range(len(toks) - 2), i ->
       |    struct_pack(pos := i,
       |      h := md5('0:' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])))) u
       |  FROM t WHERE len(toks) >= 3) q),
       |w AS (SELECT doc_id, pos,
       |  min(h) OVER (PARTITION BY doc_id ORDER BY pos
       |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) wmin,
       |  count(*) OVER (PARTITION BY doc_id) m FROM ph),
       |fp AS (SELECT DISTINCT doc_id, wmin FROM w WHERE pos <= m - 4)
       |SELECT doc_id, count(*) AS n_fingerprints,
       |  md5(string_agg(wmin, '' ORDER BY wmin)) AS fingerprint
       |FROM fp GROUP BY doc_id""".stripMargin

  /** The curation conjunction, composed by NESTING the already-verified
    * oracle queries as subqueries — each stage's SQL is the single
    * definition used by its own green CORRECTNESS row. */
  val curateCorpusOracle: String =
    s"""SELECT d.doc_id AS doc_id, d.lang AS lang, d.n_chars AS n_chars
       |FROM documents d
       |JOIN (SELECT doc_id FROM ($dedupExactOracle) e) ek USING (doc_id)
       |JOIN (SELECT doc_id FROM ($qualityGateOracle) q WHERE keep) g USING (doc_id)
       |WHERE d.doc_id % $EvalHoldoutMod <> 0
       |  AND d.doc_id NOT IN (SELECT doc_id FROM ($decontaminateOracle) c)
       |  AND d.doc_id NOT IN (SELECT doc_id FROM ($dedupClustersOracle) k
       |                       WHERE NOT is_canonical)""".stripMargin

  /** Replicates [[curateFunnelQ]]: the same stage subqueries as
    * [[curateCorpusOracle]], materialized CUMULATIVELY and each rolled
    * up per source; r20 adds the semantic tier and the release-manifest
    * membership as stages 7/8. lazy: references the semantic/release
    * oracle chain declared later in object-init order. */
  lazy val curateFunnelOracle: String =
    s"""WITH d AS (SELECT doc_id, source FROM documents),
       |ek AS (SELECT doc_id FROM ($dedupExactOracle) e),
       |gp AS (SELECT doc_id FROM ($qualityGateOracle) q WHERE keep),
       |ct AS (SELECT doc_id FROM ($decontaminateOracle) c),
       |nc AS (SELECT doc_id FROM ($dedupClustersOracle) k
       |       WHERE NOT is_canonical),
       |sm AS (SELECT vec_id AS doc_id FROM ($embeddingClustersOracle) ec
       |       WHERE NOT is_canonical),
       |rm2 AS (SELECT DISTINCT doc_id FROM ($releaseManifestOracle) rr),
       |s2 AS (SELECT d.* FROM d JOIN ek USING (doc_id)),
       |s3 AS (SELECT s2.* FROM s2 JOIN gp USING (doc_id)),
       |s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM ct)),
       |s5 AS (SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM nc)),
       |s6 AS (SELECT * FROM s5 WHERE doc_id % $EvalHoldoutMod <> 0),
       |s7 AS (SELECT * FROM s6 WHERE doc_id NOT IN (SELECT doc_id FROM sm)),
       |s8 AS (SELECT s7.* FROM s7 JOIN rm2 USING (doc_id))
       |SELECT '01_ingest' AS stage, source, count(*) AS n_docs
       |  FROM d GROUP BY 2
       |UNION ALL SELECT '02_exact_canonical', source, count(*)
       |  FROM s2 GROUP BY 2
       |UNION ALL SELECT '03_gate_pass', source, count(*) FROM s3 GROUP BY 2
       |UNION ALL SELECT '04_decontaminated', source, count(*)
       |  FROM s4 GROUP BY 2
       |UNION ALL SELECT '05_near_dup_canonical', source, count(*)
       |  FROM s5 GROUP BY 2
       |UNION ALL SELECT '06_eval_holdout', source, count(*)
       |  FROM s6 GROUP BY 2
       |UNION ALL SELECT '07_semantic_canonical', source, count(*)
       |  FROM s7 GROUP BY 2
       |UNION ALL SELECT '08_release_selected', source, count(*)
       |  FROM s8 GROUP BY 2""".stripMargin

  /** The curate oracle with the semantic tier's anti-join stacked on —
    * the same nesting-of-stage-oracles discipline as curate_corpus.
    * lazy: embeddingClustersOracle is declared later in object-init
    * order (an eager val would splice the string "null"). */
  lazy val curateCorpusSemanticOracle: String =
    s"""SELECT * FROM ($curateCorpusOracle) cc
       |WHERE cc.doc_id NOT IN (
       |  SELECT vec_id FROM ($embeddingClustersOracle) ec
       |  WHERE NOT is_canonical)""".stripMargin

  /** Same tf · ln(N/df) scoring as `TextAnalysis.tfidfTopTerms`; the
    * corpus total is a computed scalar here where Spark folds it in as a
    * driver literal — same value, so the 6-dp-rounded scores agree. */
  val tfidfTopTermsOracle: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
      |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents
      |  WHERE text IS NOT NULL),
      |sc AS (SELECT doc_id, tf.token,
      |    round(tf * ln(n.n / df), 6) AS tfidf
      |  FROM tf JOIN dfreq ON dfreq.token = tf.token CROSS JOIN n)
      |SELECT doc_id, token, tfidf, CAST(rank AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |  ORDER BY tfidf DESC, token) AS rank FROM sc)
      |WHERE rank <= 3""".stripMargin

  /** The shared CTE chain of `Retrieval.bm25MoreLikeThis` (8 query docs,
    * 5 TF-IDF terms, k1=1.2, b=0.75, Lucene `+1` idf), parameterized by
    * the per-query cutoff so bm25_topk (k=5) and the hybrid fusion
    * (k=10 inputs) nest the same text. All literals are IEEE-exact
    * twins of the Scala side (1.2+1.0 == 2.2, 1.0-0.75 == 0.25 bit-for-
    * bit), per-term contributions round to integer micro-units before
    * the order-independent integer sum — the microLogit discipline. */
  private def bm25Ctes(k: Int): String =
    s"""tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
       |  FROM documents WHERE text IS NOT NULL),
       |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
       |lens AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS len
       |  FROM tf GROUP BY 1),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avglen
       |  FROM lens),
       |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
       |qt AS (SELECT doc_id AS query_id, tf.token, df,
       |    round(tf * ln(nn.n / df), 6) AS tfidf
       |  FROM tf JOIN dfreq USING (token) CROSS JOIN nn
       |  WHERE doc_id < 8),
       |qsel AS (SELECT query_id, token,
       |    ln(1.0 + (nn.n - df + 0.5) / (df + 0.5)) AS idf
       |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY tfidf DESC, token) AS r FROM qt)
       |  CROSS JOIN nn WHERE r <= 5),
       |cand AS (SELECT q.query_id, tf.doc_id AS neighbor_id,
       |    CAST(round(q.idf * (tf.tf * 2.2)
       |      / (tf.tf + 1.2 * (0.25 + 0.75 * lens.len / nn.avglen))
       |      * 1e6) AS BIGINT) AS c
       |  FROM tf JOIN qsel q USING (token)
       |  JOIN lens ON lens.doc_id = tf.doc_id CROSS JOIN nn
       |  WHERE tf.doc_id <> q.query_id),
       |bm AS (SELECT query_id, neighbor_id, CAST(sum(c) AS BIGINT) AS s,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY CAST(sum(c) AS BIGINT) DESC, neighbor_id) AS INT)
       |      AS rank
       |  FROM cand GROUP BY query_id, neighbor_id
       |  QUALIFY rank <= $k)""".stripMargin

  val bm25TopkOracle: String =
    s"""WITH ${bm25Ctes(5)}
       |SELECT query_id, neighbor_id, s / 1000000.0 AS bm25, rank
       |FROM bm""".stripMargin

  /** RRF fusion oracle: the bm25 chain (k=10) ⊕ the cosine chain (k=10,
    * the similarity_topk construction verbatim), each rank mapped to the
    * micro-unit term round(1e6/(60+rank)), integer-summed, top-5. */
  val hybridRrfOracle: String =
    s"""WITH ${bm25Ctes(10)},
       |e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v
       |  FROM embeddings),
       |q AS (SELECT vec_id query_id, v qv FROM e WHERE vec_id < 8),
       |pairs AS (
       |  SELECT q.query_id, e.vec_id neighbor_id,
       |    list_sum(list_transform(range(64), i -> qv[i+1] * v[i+1])) dot,
       |    sqrt(list_sum(list_transform(qv, x -> x*x))) nq,
       |    sqrt(list_sum(list_transform(v, x -> x*x))) nv
       |  FROM q JOIN e ON e.vec_id <> q.query_id),
       |cos AS (SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY round(dot/(nq*nv), 6) DESC, neighbor_id) AS INT)
       |      AS rank
       |  FROM pairs QUALIFY rank <= 10),
       |contrib AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(round(1e6 / (60 + rank)) AS BIGINT) AS c FROM bm
       |  UNION ALL
       |  SELECT query_id, neighbor_id,
       |    CAST(round(1e6 / (60 + rank)) AS BIGINT) AS c FROM cos),
       |fused AS (SELECT query_id, neighbor_id,
       |    CAST(sum(c) AS BIGINT) AS s,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY CAST(sum(c) AS BIGINT) DESC, neighbor_id) AS INT)
       |      AS rank
       |  FROM contrib GROUP BY query_id, neighbor_id
       |  QUALIFY rank <= 5)
       |SELECT query_id, neighbor_id, s / 1000000.0 AS rrf, rank
       |FROM fused""".stripMargin

  /** Same single-pass entropy algebra (`ln n − Σ tf·ln tf / n`) as
    * `TextAnalysis.tokenEntropy`; both entropy columns round to 6 dp and
    * the ratio is NULL for single-type documents on both engines. */
  val docEntropyOracle: String =
    """WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents WHERE text IS NOT NULL),
      |tf AS (SELECT doc_id, token, count(*) AS tf FROM tk GROUP BY 1, 2),
      |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |    count(*) AS n_types,
      |    sum(CAST(tf AS DOUBLE) * ln(CAST(tf AS DOUBLE))) AS stl
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, n_tokens, n_types,
      |  round(ln(CAST(n_tokens AS DOUBLE)) - stl / n_tokens, 6) AS entropy,
      |  CASE WHEN n_types > 1
      |    THEN round((ln(CAST(n_tokens AS DOUBLE)) - stl / n_tokens)
      |               / ln(CAST(n_types AS DOUBLE)), 6)
      |  END AS entropy_ratio
      |FROM agg""".stripMargin

  /** Same per-source running-sum shard assignment as
    * `TextAnalysis.packShards` (budget 4096, (source, doc_id) order). */
  val packShardsOracle: String =
    """WITH s AS (SELECT doc_id, source,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
      |    PARTITION BY source ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |  AS bef FROM s)
      |SELECT doc_id, source, n_tokens,
      |  CAST(floor(bef / 4096.0) AS BIGINT) AS shard_id,
      |  bef % 4096 AS offset_tokens
      |FROM c""".stripMargin

  /** Shard-fill audit (r19): the pad-waste report over the memoized
    * `pack_shards` output — fill share in integer ppm, overflow-shard
    * count, largest shard, per source. Zero extra packing cost. */
  val packEfficiencyQ: (SparkSession, String) => DataFrame =
    memoized("packEfficiency") { (spark, sfDir) =>
      TextAnalysis.packEfficiency(packShardsQ(spark, sfDir))
    }

  /** Replicates [[graft.text.TextAnalysis.packEfficiency]] over the
    * pack_shards oracle: (source, shard) rollup, then the per-source
    * integer summary (ppm by int64 floor division). */
  lazy val packEfficiencyOracle: String =
    s"""WITH p AS ($packShardsOracle),
       |sh AS (SELECT source, shard_id, CAST(sum(n_tokens) AS BIGINT) t,
       |    CAST(count(*) AS BIGINT) d
       |  FROM p GROUP BY source, shard_id)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_shards,
       |  CAST(sum(d) AS BIGINT) AS n_docs,
       |  CAST(sum(t) AS BIGINT) AS total_tokens,
       |  (CAST(sum(t) AS BIGINT) * 1000000)
       |    // (CAST(count(*) AS BIGINT) * 4096) AS fill_ppm,
       |  CAST(sum(CASE WHEN t > 4096 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_overflow_shards,
       |  CAST(max(t) AS BIGINT) AS max_shard_tokens
       |FROM sh GROUP BY source""".stripMargin

  /** Replicates [[graft.text.TextAnalysis.packSequences]]'s
    * concat-and-chunk segment map: the same global (source, doc_id)
    * token stream (one running-sum window — the oracle can afford the
    * serial form), the same ⌊·/512⌋ sequence cuts, the same
    * GREATEST/LEAST span clipping, zero-token documents dropped. */
  val packSequencesOracle: String =
    """WITH s AS (SELECT doc_id, source,
      |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
      |  FROM documents WHERE text IS NOT NULL),
      |c AS (SELECT *, CAST(COALESCE(sum(n_tokens) OVER (
      |    ORDER BY source, doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
      |  AS s0 FROM s),
      |seg AS (SELECT doc_id, source, n_tokens, s0,
      |    s0 + n_tokens AS e0,
      |    unnest(generate_series(CAST(floor(s0 / 512.0) AS BIGINT),
      |      CAST(floor((s0 + n_tokens - 1) / 512.0) AS BIGINT))) AS seq_id
      |  FROM c WHERE n_tokens > 0)
      |SELECT doc_id, source, n_tokens, seq_id,
      |  GREATEST(s0, seq_id * 512) - seq_id * 512 AS seq_offset,
      |  GREATEST(s0, seq_id * 512) - s0 AS doc_offset,
      |  LEAST(e0, (seq_id + 1) * 512) - GREATEST(s0, seq_id * 512)
      |    AS seg_tokens
      |FROM seg""".stripMargin

  /** Same df-capped candidate generation as the capped-jaccard oracle,
    * then exact containments from the FULL shingle sets — values match
    * `Dedup.containmentPairs`'s array recompute, and the threshold is
    * applied to the raw ratios before the 6-dp output rounding in both
    * engines. */
  val dedupContainmentOracle: String =
    s"""$shingleCtes,
       |keep AS (SELECT shingle FROM shd GROUP BY shingle
       |  HAVING count(*) <= $jaccardDfCap),
       |inv AS (SELECT doc_id, shingle FROM shd JOIN keep USING (shingle)),
       |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db
       |  FROM inv a JOIN inv b
       |    ON b.shingle = a.shingle AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(*) n FROM shd GROUP BY doc_id),
       |inter AS (SELECT c.da, c.db, count(*) i
       |  FROM cand c
       |  JOIN shd sa ON sa.doc_id = c.da
       |  JOIN shd sb ON sb.doc_id = c.db AND sb.shingle = sa.shingle
       |  GROUP BY c.da, c.db)
       |SELECT i.da AS doc_a, i.db AS doc_b,
       |  round(CAST(i.i AS DOUBLE) / za.n, 6) AS containment_a_in_b,
       |  round(CAST(i.i AS DOUBLE) / zb.n, 6) AS containment_b_in_a
       |FROM inter i
       |JOIN sizes za ON za.doc_id = i.da
       |JOIN sizes zb ON zb.doc_id = i.db
       |WHERE greatest(CAST(i.i AS DOUBLE) / za.n,
       |               CAST(i.i AS DOUBLE) / zb.n) >= 0.8""".stripMargin

  /** Replicates `Dedup.incremental` tier by tier: same batch split,
    * same corpus-fingerprint min, same band keys (the shared minhash
    * SELECTs), same touched-bucket cap, same (jaccard desc, doc_id)
    * best-match tiebreak on the 6-dp-rounded value. */
  /** Same k=5 salted-md5 positions, m=4096, same `%10` batch split as
    * `Dedup.bloomDedupAudit`; a doc bloom-hits iff all 5 probe rows
    * survive the position join. */
  val dedupBloomAuditOracle: String =
    """WITH f AS (SELECT doc_id, md5(text) AS fp, (doc_id % 10 = 0) AS nw
      |  FROM documents WHERE text IS NOT NULL),
      |cf AS (SELECT DISTINCT fp FROM f WHERE NOT nw),
      |ks AS (SELECT unnest(range(5)) AS i),
      |bits AS (SELECT DISTINCT CAST('0x' || substr(md5(CAST(i AS VARCHAR)
      |    || ':' || fp), 1, 8) AS BIGINT) % 4096 AS pos
      |  FROM cf CROSS JOIN ks),
      |inc AS (SELECT doc_id, fp FROM f WHERE nw),
      |hp AS (SELECT doc_id, CAST('0x' || substr(md5(CAST(i AS VARCHAR)
      |    || ':' || fp), 1, 8) AS BIGINT) % 4096 AS pos
      |  FROM inc CROSS JOIN ks),
      |hits AS (SELECT doc_id, count(*) AS h FROM hp JOIN bits USING (pos)
      |  GROUP BY 1)
      |SELECT inc.doc_id, COALESCE(h, 0) = 5 AS bloom_hit,
      |       cf.fp IS NOT NULL AS exact_dup
      |FROM inc LEFT JOIN hits ON hits.doc_id = inc.doc_id
      |LEFT JOIN cf ON cf.fp = inc.fp""".stripMargin

  val dedupIncrementalOracle: String = {
    val mins = minhashMinsSql
    val bands0 = minhashBands0Sql
    s"""$shingleCtes,
       |mh AS (SELECT doc_id,
       |  $mins
       |  FROM shd GROUP BY doc_id),
       |bands AS (
       |  $bands0),
       |nb AS (SELECT doc_id nid, band, bkey FROM bands WHERE doc_id % 10 = 0),
       |cbm AS (SELECT c.doc_id cid, c.band, c.bkey FROM bands c
       |  JOIN (SELECT DISTINCT band, bkey FROM nb) h
       |    ON h.band = c.band AND h.bkey = c.bkey
       |  WHERE c.doc_id % 10 <> 0),
       |capped AS (SELECT cid, band, bkey FROM (SELECT cid, band, bkey,
       |    count(*) OVER (PARTITION BY band, bkey) n FROM cbm)
       |  WHERE n <= 1000),
       |cand AS (SELECT DISTINCT n.nid, c.cid
       |  FROM nb n JOIN capped c ON c.band = n.band AND c.bkey = n.bkey),
       |sizes AS (SELECT doc_id, count(*) n FROM shd GROUP BY doc_id),
       |inter AS (SELECT cand.nid, cand.cid, count(*) i
       |  FROM cand
       |  JOIN shd sa ON sa.doc_id = cand.nid
       |  JOIN shd sb ON sb.doc_id = cand.cid AND sb.shingle = sa.shingle
       |  GROUP BY cand.nid, cand.cid),
       |near AS (SELECT nid, cid,
       |    round(CAST(i AS DOUBLE)/(za.n + zb.n - i), 6) j
       |  FROM inter
       |  JOIN sizes za ON za.doc_id = nid
       |  JOIN sizes zb ON zb.doc_id = cid
       |  WHERE CAST(i AS DOUBLE)/(za.n + zb.n - i) >= 0.5),
       |best AS (SELECT nid, cid, j FROM (SELECT *, row_number() OVER (
       |    PARTITION BY nid ORDER BY j DESC, cid) rn FROM near)
       |  WHERE rn = 1),
       |nd AS (SELECT doc_id, md5(text) fp FROM documents WHERE doc_id % 10 = 0),
       |ex AS (SELECT c.fp, min(c.doc_id) exact_id
       |  FROM (SELECT md5(text) fp, doc_id FROM documents
       |        WHERE doc_id % 10 <> 0) c
       |  JOIN (SELECT DISTINCT fp FROM nd) f ON f.fp = c.fp
       |  GROUP BY c.fp)
       |SELECT nd.doc_id,
       |  CASE WHEN ex.exact_id IS NOT NULL THEN 'exact'
       |       WHEN b.cid IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
       |  COALESCE(ex.exact_id, b.cid) AS match_id,
       |  CASE WHEN ex.exact_id IS NULL THEN b.j END AS jaccard
       |FROM nd
       |LEFT JOIN ex ON ex.fp = nd.fp
       |LEFT JOIN best b ON b.nid = nd.doc_id""".stripMargin
  }

  /** Same exact per-source rank as `TextAnalysis.lengthPercentileGate`:
    * the doc_id tiebreak makes the order total, so row_number-1 over
    * n-1 IS percent_rank, and the keep comparison runs on the 6-dp
    * ROUNDED pr in both engines. */
  val docPercentileGateOracle: String =
    s"""WITH t AS (SELECT doc_id, source,
       |  CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
       |  FROM documents WHERE text IS NOT NULL),
       |r AS (SELECT doc_id, source, n_tokens,
       |  CAST(row_number() OVER (PARTITION BY source
       |    ORDER BY n_tokens, doc_id) - 1 AS DOUBLE) rk,
       |  count(*) OVER (PARTITION BY source) n FROM t),
       |p AS (SELECT doc_id, source, n_tokens,
       |  round(CASE WHEN n > 1 THEN rk / (n - 1) ELSE 0.0 END, 6) pr FROM r)
       |SELECT doc_id, source, n_tokens, pr,
       |  (pr >= $pctLow AND pr <= $pctHigh) AS keep
       |FROM p""".stripMargin

  /** Same recursive-CTE closure as `dedupClustersOracle`, over the
    * sign-LSH embedding pair oracle. */
  val embeddingClustersOracle: String =
    s"""WITH RECURSIVE epairs AS (SELECT vec_a, vec_b FROM (
       |$dedupEmbeddingOracle
       |) ep),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM epairs
       |          UNION SELECT vec_b, vec_a FROM epairs),
       |reach AS (
       |  SELECT DISTINCT src AS vec_id, src AS lbl FROM edges
       |  UNION
       |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.vec_id),
       |comp AS (SELECT vec_id, min(lbl) AS cluster_id FROM reach GROUP BY vec_id),
       |sized AS (SELECT cluster_id, count(*) AS cluster_size FROM comp
       |          GROUP BY cluster_id)
       |SELECT c.vec_id AS vec_id, c.cluster_id AS cluster_id,
       |       s.cluster_size AS cluster_size,
       |       c.vec_id = c.cluster_id AS is_canonical
       |FROM comp c JOIN sized s ON s.cluster_id = c.cluster_id""".stripMargin

  /** Same band keys as `Dedup.lshBucketStats` (shared SQL fragments with
    * the pair oracle); stats over UNCAPPED buckets, integral pair mass. */
  val lshBucketStatsOracle: String =
    s"""$shingleCtes,
       |mh AS (SELECT doc_id,
       |  $minhashMinsSql
       |  FROM shd GROUP BY doc_id),
       |b0 AS (
       |  $minhashBands0Sql),
       |occ AS (SELECT band, bkey, count(*) AS n FROM b0 GROUP BY band, bkey)
       |SELECT band, count(*) AS n_buckets, CAST(sum(n) AS BIGINT) AS n_rows,
       |  max(n) AS max_bucket,
       |  CAST(sum(n*(n-1)//2) AS BIGINT) AS candidate_pairs,
       |  count(CASE WHEN n > 1000 THEN 1 END) AS n_capped
       |FROM occ GROUP BY band""".stripMargin

  /** Full-outer compare of the two pair oracles (nested verbatim — the
    * audit's reference sets ARE those queries' green results; the exact
    * side nests the CAPPED oracle to mirror dedupLshAudit). */
  val dedupLshAuditOracle: String =
    s"""SELECT CAST(count(xa) AS BIGINT) AS n_exact_pairs,
       |  CAST(count(la) AS BIGINT) AS n_lsh_pairs,
       |  CAST(count(CASE WHEN la IS NOT NULL AND xa IS NOT NULL
       |    THEN 1 END) AS BIGINT) AS n_common,
       |  CASE WHEN count(xa) > 0 THEN
       |    round(CAST(count(CASE WHEN la IS NOT NULL AND xa IS NOT NULL
       |      THEN 1 END) AS DOUBLE) / count(xa), 6) END AS recall,
       |  CASE WHEN count(la) > 0 THEN
       |    round(CAST(count(CASE WHEN la IS NOT NULL AND xa IS NOT NULL
       |      THEN 1 END) AS DOUBLE) / count(la), 6) END AS precision
       |FROM (SELECT doc_a la, doc_b lb FROM ($dedupMinhashOracle) z1) l
       |FULL JOIN (SELECT doc_a xa, doc_b xb FROM ($dedupJaccardCappedOracle) z2) x
       |  ON l.la = x.xa AND l.lb = x.xb""".stripMargin

  val mediaFramesOracle: String =
    """WITH fr AS (SELECT doc_id,
      |  unnest(range(0, CAST(ceil(length(text) / 64.0) AS INT))) AS frame_no,
      |  text FROM documents WHERE length(text) > 0),
      |s AS (SELECT doc_id, frame_no,
      |  substr(text, CAST(frame_no * 64 + 1 AS INT), 64) AS frame
      |  FROM fr WHERE frame_no % 2 = 0)
      |SELECT doc_id, frame_no, length(frame) AS frame_len,
      |  md5(frame) AS checksum FROM s""".stripMargin

  val mediaFeaturesOracle: String =
    """SELECT doc_id, 'text/plain' AS media_type,
      |  octet_length(encode(text)) AS byte_len,
      |  md5(text) AS checksum,
      |  CAST(ceil(octet_length(encode(text)) / 256.0) AS BIGINT) AS n_chunks,
      |  lang AS meta_lang, n_chars AS meta_n_chars
      |FROM documents""".stripMargin

  /** Same salted-md5 CMS as `Sketches.heavyHittersAudit` (depth 4,
    * width 64): identical cells, min-over-rows estimates, top-20 by
    * (exact desc, item) so the boundary is deterministic. */
  val cmsHeavyHittersOracle: String =
    """WITH ids AS (SELECT unnest(range(4)) AS r),
      |cells AS (SELECT r,
      |    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':'
      |      || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 64 AS b,
      |    count(*) AS c
      |  FROM events CROSS JOIN ids GROUP BY 1, 2),
      |items AS (SELECT user_id AS item, count(*) AS exact_count
      |  FROM events GROUP BY 1),
      |est AS (SELECT item, exact_count, min(c) AS cms_estimate
      |  FROM items CROSS JOIN ids
      |  JOIN cells ON cells.r = ids.r
      |    AND cells.b = CAST('0x' || substr(md5(CAST(ids.r AS VARCHAR)
      |      || ':' || CAST(item AS VARCHAR)), 1, 8) AS BIGINT) % 64
      |  GROUP BY 1, 2)
      |SELECT item, exact_count, cms_estimate,
      |       cms_estimate - exact_count AS overestimate
      |FROM est ORDER BY exact_count DESC, item LIMIT 20""".stripMargin

  val eventsPropsOracle: String =
    """WITH e AS (SELECT event_type,
      |  CAST(json_extract_string(props, '$.k') AS INT) k FROM events)
      |SELECT event_type, count(*) AS n_events, count(k) AS n_with_k,
      |  CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k,
      |  round(CAST(sum(k) AS DOUBLE) / count(k), 6) AS avg_k
      |FROM e GROUP BY event_type""".stripMargin

  /** Same `md5('pii:' || id)` pseudonym family as `Privacy.pseudonym`
    * and the same k=10 small-cell threshold as `Privacy.releaseAudit`.
    * Cell stats are count/min/max only — order-independent, so no
    * rounding is needed even on the double-typed value column. */
  val eventsPseudonymizeOracle: String =
    """SELECT md5('pii:' || CAST(user_id AS VARCHAR)) AS user_pseudonym,
      |       event_type, count(*) AS n_events,
      |       min(value) AS min_value, max(value) AS max_value,
      |       count(*) < 10 AS suppressed
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Same three patterns, in the same redaction order, as
    * `Privacy.piiPatterns` (portable Java-regex/RE2 subset); DuckDB
    * `regexp_replace` needs the explicit 'g' flag to match Spark's
    * replace-all default. On the synthetic corpus every count is 0 and
    * the digest equals md5(text) — the check still pins that both regex
    * engines agree on all 500 documents. */
  val piiScrubOracle: String =
    """SELECT doc_id,
      |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
      |  len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ip,
      |  len(regexp_extract_all(text, '\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) AS n_phone,
      |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
      |    + len(regexp_extract_all(text, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}'))
      |    + len(regexp_extract_all(text, '\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}')) = 0 AS clean,
      |  md5(regexp_replace(regexp_replace(regexp_replace(text,
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
      |        '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '[IP]', 'g'),
      |        '\+[0-9]{7,15}|[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '[PHONE]', 'g')) AS redacted_md5
      |FROM documents""".stripMargin

  /** Check names and null semantics replicated verbatim: a check PASSES
    * on TRUE, violates on FALSE-or-NULL (coalesce(..., false)). */
  val eventsContractOracle: String =
    """WITH e AS (SELECT event_id, make_timestamp(epoch_ms(ts) * 1000) AS ts,
      |  user_id, event_type, value, props FROM events),
      |n AS (SELECT count(*) AS n_rows FROM e),
      |r AS (
      |  SELECT 1 AS o, 'not_null(event_id)' AS c,
      |    count(*) FILTER (WHERE event_id IS NULL) AS v FROM e
      |  UNION ALL SELECT 2, 'not_null(user_id)',
      |    count(*) FILTER (WHERE user_id IS NULL) FROM e
      |  UNION ALL SELECT 3, 'ts_between(ts)',
      |    count(*) FILTER (WHERE NOT coalesce(
      |      ts >= TIMESTAMP '2024-01-01 00:00:00'
      |      AND ts < TIMESTAMP '2024-02-01 00:00:00', false)) FROM e
      |  UNION ALL SELECT 4, 'in_set(event_type)',
      |    count(*) FILTER (WHERE NOT coalesce(event_type IN
      |      ('view','click','purchase','signup','error'), false)) FROM e
      |  UNION ALL SELECT 5, 'in_range(value,0.0,150.0)',
      |    count(*) FILTER (WHERE NOT coalesce(
      |      value >= 0.0 AND value <= 150.0, false)) FROM e
      |  UNION ALL SELECT 6, 'length_at_most(props,8)',
      |    count(*) FILTER (WHERE NOT coalesce(length(props) <= 8, false))
      |    FROM e
      |  UNION ALL SELECT 7, 'unique(event_id)',
      |    coalesce((SELECT sum(dc) FROM (SELECT count(*) AS dc FROM e
      |      GROUP BY event_id HAVING count(*) > 1) d), 0))
      |SELECT r.c AS "constraint", CAST(r.v AS BIGINT) AS n_violations,
      |  n.n_rows AS n_rows, r.v = 0 AS pass
      |FROM r, n""".stripMargin

  /** Daily-grain monitor twin: Spark's `window(ts, "1 day")` aligns to
    * UTC day boundaries = date_trunc; only occurring (day, check) combos
    * emit, so zero-violation checks are filtered with n > 0. */
  val eventsContractMonitorOracle: String =
    """WITH e AS (SELECT event_id, make_timestamp(epoch_ms(ts) * 1000) AS ts,
      |  user_id, event_type, value, props FROM events),
      |x AS (SELECT date_trunc('day', ts) AS d, * FROM e),
      |c AS (
      |  SELECT d, '__rows' AS c, count(*) AS n FROM x GROUP BY 1
      |  UNION ALL SELECT d, 'not_null(event_id)',
      |    count(*) FILTER (WHERE event_id IS NULL) FROM x GROUP BY 1
      |  UNION ALL SELECT d, 'not_null(user_id)',
      |    count(*) FILTER (WHERE user_id IS NULL) FROM x GROUP BY 1
      |  UNION ALL SELECT d, 'ts_between(ts)',
      |    count(*) FILTER (WHERE NOT coalesce(
      |      ts >= TIMESTAMP '2024-01-01 00:00:00'
      |      AND ts < TIMESTAMP '2024-02-01 00:00:00', false)) FROM x GROUP BY 1
      |  UNION ALL SELECT d, 'in_set(event_type)',
      |    count(*) FILTER (WHERE NOT coalesce(event_type IN
      |      ('view','click','purchase','signup','error'), false)) FROM x GROUP BY 1
      |  UNION ALL SELECT d, 'in_range(value,0.0,150.0)',
      |    count(*) FILTER (WHERE NOT coalesce(
      |      value >= 0.0 AND value <= 150.0, false)) FROM x GROUP BY 1
      |  UNION ALL SELECT d, 'length_at_most(props,8)',
      |    count(*) FILTER (WHERE NOT coalesce(length(props) <= 8, false))
      |    FROM x GROUP BY 1)
      |SELECT d AS window_start, d + INTERVAL 1 DAY AS window_end,
      |  c AS "constraint", CAST(n AS BIGINT) AS n
      |FROM c WHERE n > 0""".stripMargin

  /** concat_ws skips NULL branches in both engines; check order is
    * declaration order, so the joined list matches byte-for-byte. */
  val docsQuarantineOracle: String =
    """WITH v AS (SELECT doc_id,
      |  CASE WHEN text IS NULL THEN 'not_null(text)' END AS v1,
      |  CASE WHEN NOT coalesce(lang IN ('en','de','fr','es'), false)
      |    THEN 'in_set(lang)' END AS v2,
      |  CASE WHEN NOT coalesce(n_chars >= 0.0 AND n_chars <= 500.0, false)
      |    THEN 'in_range(n_chars,0.0,500.0)' END AS v3,
      |  CASE WHEN NOT coalesce(length(text) <= 520, false)
      |    THEN 'length_at_most(text,520)' END AS v4
      | FROM documents)
      |SELECT doc_id, concat_ws(';', v1, v2, v3, v4) AS violations,
      |  concat_ws(';', v1, v2, v3, v4) = '' AS keep
      |FROM v""".stripMargin

  /** Raw-table twins of the documents-layout rollups (see
    * [[docsLayoutPrune]]/[[docsStatsBox]]): CAST sums to BIGINT so the
    * DuckDB HUGEINT sum matches Spark's long column class. */
  val docsLayoutPruneOracle: String =
    """SELECT source, lang, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE source IN ('src3', 'src7', 'src11')
      |GROUP BY 1, 2""".stripMargin

  val docsStatsBoxOracle: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
      |FROM documents WHERE n_chars BETWEEN 250 AND 350
      |GROUP BY 1""".stripMargin

  val all: Seq[NamedQuery] = Seq(
    NamedQuery("dedup_exact", dedupExact, Some(dedupExactOracle)),
    NamedQuery("dedup_normalized", dedupNormalized, Some(dedupNormalizedOracle)),
    NamedQuery("dedup_unicode", dedupUnicode, Some(dedupUnicodeOracle)),
    NamedQuery("dedup_spans", dedupSpans, Some(dedupSpansOracle)),
    NamedQuery("span_boilerplate", spanBoilerplate, Some(spanBoilerplateOracle)),
    NamedQuery("strip_boilerplate", stripBoilerplateQ, Some(stripBoilerplateOracle)),
    NamedQuery("dedup_minhash", dedupMinhash, Some(dedupMinhashOracle)),
    NamedQuery("cross_source_leakage", crossSourceLeakageQ,
      Some(crossSourceLeakageOracle)),
    NamedQuery("dedup_jaccard", dedupJaccard, Some(dedupJaccardOracle)),
    NamedQuery("dedup_incremental", dedupIncremental,
      Some(dedupIncrementalOracle)),
    NamedQuery("dedup_bloom_audit", dedupBloomAudit,
      Some(dedupBloomAuditOracle)),
    NamedQuery("dedup_containment", dedupContainment,
      Some(dedupContainmentOracle)),
    NamedQuery("dedup_jaccard_capped", dedupJaccardCapped,
      Some(dedupJaccardCappedOracle)),
    NamedQuery("ngram_novelty", ngramNoveltyQ, Some(ngramNoveltyOracle)),
    NamedQuery("text_simhash", textSimhash, Some(textSimhashOracle)),
    NamedQuery("text_simhash_pairs", simhashPairs, Some(simhashPairsOracle)),
    NamedQuery("text_stats", textStats, Some(textStatsOracle)),
    NamedQuery("text_stats_unicode", textStatsUnicode,
      Some(textStatsUnicodeOracle)),
    NamedQuery("corpus_stats", corpusStats, Some(corpusStatsOracle)),
    NamedQuery("corpus_diff", corpusDiffQ, Some(corpusDiffOracle)),
    NamedQuery("doc_split", docSplit, Some(docSplitOracle)),
    NamedQuery("doc_length_quantiles_approx", docLengthQuantilesApprox, None),
    NamedQuery("doc_length_quantiles", docLengthQuantiles,
      Some(docLengthQuantilesOracle)),
    NamedQuery("top_docs_per_source", topDocsPerSource,
      Some(topDocsPerSourceOracle)),
    NamedQuery("lang_id", langIdQ, Some(langIdTrainedOracle)),
    NamedQuery("lang_id_marker", langIdMarkerQ, Some(langIdOracle)),
    NamedQuery("lang_id_margin", langIdMarginQ, Some(langIdMarginOracle)),
    NamedQuery("lang_confusion", langConfusion, Some(langConfusionOracle)),
    NamedQuery("quality_gate", qualityGateQ, Some(qualityGateOracle)),
    NamedQuery("quality_by_source", qualityBySource,
      Some(qualityBySourceOracle)),
    // after quality_gate, before the LM queries: shares the persisted
    // (doc, token, count) frame with doc_logprob/doc_entropy/tfidf/vocab
    NamedQuery("quality_classifier", qualityClassifierQ,
      Some(qualityClassifierOracle)),
    NamedQuery("quality_classifier_eval", qualityClassifierEvalQ,
      Some(qualityClassifierEvalOracle)),
    NamedQuery("quality_classifier_lr", qualityClassifierLrQ,
      Some(qualityClassifierLrOracle)),
    NamedQuery("quality_classifier_lr_eval", qualityClassifierLrEvalQ,
      Some(qualityClassifierLrEvalOracle)),
    NamedQuery("dsir_weights", dsirWeightsQ, Some(dsirWeightsOracle)),
    // right after dsir_weights: shares the docTokenCounts memo
    NamedQuery("dsir_select", dsirSelectQ, Some(dsirSelectOracle)),
    NamedQuery("doc_logprob", docLogprob, Some(docLogprobOracle)),
    NamedQuery("doc_logprob_bigram", docLogprobBigram, Some(docLogprobBigramOracle)),
    NamedQuery("doc_repetition", docRepetition, Some(docRepetitionOracle)),
    NamedQuery("bpe_merges", bpeMerges, Some(bpeMergesOracle)),
    NamedQuery("bpe_vocab", bpeVocabQ, Some(bpeVocabOracle)),
    NamedQuery("bpe_vocab_incremental", bpeVocabIncrementalQ,
      Some(bpeVocabOracle)),
    NamedQuery("bpe_encode", bpeEncodeQ, Some(bpeEncodeOracle)),
    NamedQuery("bpe_doc_tokens", bpeDocTokensQ, Some(bpeDocTokensOracle)),
    NamedQuery("bpe_fertility", bpeFertilityQ, Some(bpeFertilityOracle)),
    NamedQuery("source_mix", sourceMix, Some(sourceMixOracle)),
    NamedQuery("source_mix_temperature", sourceMixTemperature,
      Some(sourceMixTemperatureOracle)),
    NamedQuery("mix_epoch_plan", mixEpochPlanQ, Some(mixEpochPlanOracle)),
    NamedQuery("sample_stratified", sampleStratified, Some(sampleStratifiedOracle)),
    NamedQuery("doc_chunks", docChunks, Some(docChunksOracle)),
    NamedQuery("tfidf_topterms", tfidfTopTermsQ, Some(tfidfTopTermsOracle)),
    NamedQuery("doc_entropy", docEntropy, Some(docEntropyOracle)),
    NamedQuery("pack_shards", packShardsQ, Some(packShardsOracle)),
    // right after pack_shards: consumes its memoized report
    NamedQuery("pack_efficiency", packEfficiencyQ,
      Some(packEfficiencyOracle)),
    NamedQuery("select_token_budget", selectTokenBudgetQ,
      Some(selectTokenBudgetOracle)),
    NamedQuery("mix_epoch_materialize", materializeEpochsQ,
      Some(materializeEpochsOracle)),
    // right after the materializer: consumes its memoized manifest
    NamedQuery("epoch_pack", packEpochSequencesQ,
      Some(packEpochSequencesOracle)),
    NamedQuery("epoch_manifest_audit", epochManifestAuditQ,
      Some(epochManifestAuditOracle)),
    NamedQuery("pack_sequences", packSequencesQ, Some(packSequencesOracle)),
    NamedQuery("doc_length_mad_gate", docLengthMadGateQ,
      Some(docLengthMadGateOracle)),
    NamedQuery("doc_percentile_gate", docPercentileGateQ,
      Some(docPercentileGateOracle)),
    NamedQuery("dedup_embedding", dedupEmbedding, Some(dedupEmbeddingOracle)),
    NamedQuery("dedup_semantic_cells", dedupSemanticCells,
      Some(dedupSemanticCellsOracle)),
    // right after dedup_semantic_cells: consumes its memoized frame
    NamedQuery("semdedup_cell_audit", semdedupCellAuditQ,
      Some(semdedupCellAuditOracle)),
    NamedQuery("dedup_semantic_incremental", dedupSemanticIncremental,
      Some(dedupSemanticIncrementalOracle)),
    NamedQuery("embedding_quantize", embeddingQuantize, Some(embeddingQuantizeOracle)),
    NamedQuery("embedding_drift", embeddingDrift,
      Some(Similarity.embeddingDriftOracleSql())),
    NamedQuery("embedding_rp", embeddingRp, Some(Similarity.rpOracleSql())),
    NamedQuery("rp_distortion", rpDistortion,
      Some(Similarity.rpDistortionOracleSql())),
    NamedQuery("embedding_pq", embeddingPq, Some(Similarity.productQuantizeOracleSql())),
    // right after embedding_pq: shares its memoized code assignment
    NamedQuery("similarity_pq", similarityPq, Some(Similarity.adcTopKOracleSql())),
    // the LUT-table twin at 128 standing queries: same oracle shape,
    // query count where the literal form would bloat the plan
    NamedQuery("similarity_pq_batchq", similarityPqBatchq,
      Some(Similarity.adcTopKOracleSql(nQueries = 128))),
    // r20: the IVF-PQ family serves RESIDUAL codes (Faiss default) —
    // the stored-codes query first so the searches share the memo
    NamedQuery("embedding_pq_residual", embeddingPqResidual,
      Some(Similarity.productQuantizeResidualOracleSql())),
    NamedQuery("similarity_ivfpq", similarityIvfPq,
      Some(Similarity.ivfPqResidualTopKOracleSql())),
    NamedQuery("similarity_ivfpq_batchq", similarityIvfPqBatchq,
      Some(Similarity.ivfPqResidualTopKOracleSql(nQueries = 128))),
    NamedQuery("similarity_incremental", similarityIncremental,
      Some(Similarity.incrementalAssignOracleSql())),
    NamedQuery("similarity_incremental_residual",
      similarityIncrementalResidual,
      Some(Similarity.incrementalAssignResidualOracleSql())),
    NamedQuery("sample_cluster_balanced", sampleClusterBalanced,
      Some(Similarity.clusterBalancedSampleOracleSql())),
    NamedQuery("dedup_decontaminate", dedupDecontaminate, Some(decontaminateOracle)),
    NamedQuery("decontaminate_semantic", decontaminateSemantic,
      Some(decontaminateSemanticOracle)),
    NamedQuery("dedup_clusters", dedupClusters, Some(dedupClustersOracle)),
    NamedQuery("cluster_size_hist", clusterSizeHist, Some(clusterSizeHistOracle)),
    // after dedup_clusters: shares the memoized membership
    NamedQuery("doc_split_leakage_safe", docSplitLeakageSafe,
      Some(docSplitLeakageSafeOracle)),
    NamedQuery("dedup_lsh_audit", dedupLshAudit, Some(dedupLshAuditOracle)),
    NamedQuery("embedding_clusters", embeddingClusters, Some(embeddingClustersOracle)),
    NamedQuery("lsh_bucket_stats", lshBucketStatsQ, Some(lshBucketStatsOracle)),
    // after its stages (gate, exact, decontaminate, clusters): insertion
    // order is bench pipeline order, so the composite reuses the shared
    // frames its stages just built instead of absorbing their build cost
    NamedQuery("curate_corpus", curateCorpus, Some(curateCorpusOracle)),
    NamedQuery("curate_funnel", curateFunnelQ, Some(curateFunnelOracle)),
    // r20: the curated corpus fed through the epoch chain — the
    // trainer-ready manifest of an actual data release
    NamedQuery("release_manifest", releaseManifestQ,
      Some(releaseManifestOracle)),
    // after curate_corpus AND embedding_clusters: reuses both frames
    NamedQuery("curate_corpus_semantic", curateCorpusSemantic,
      Some(curateCorpusSemanticOracle)),
    NamedQuery("embedding_coverage", embeddingCoverage,
      Some(embeddingCoverageOracle)),
    NamedQuery("vocab_topk", vocabTopKQ, Some(vocabTopKOracle)),
    NamedQuery("vocab_by_source", vocabBySourceQ, Some(vocabBySourceOracle)),
    NamedQuery("embedding_centroids", embeddingCentroids, Some(embeddingCentroidsOracle)),
    NamedQuery("embedding_norm_profile", embeddingNormProfile,
      Some(embeddingNormProfileOracle)),
    NamedQuery("embedding_outliers", embeddingOutliers, Some(embeddingOutliersOracle)),
    NamedQuery("text_winnow", textWinnow, Some(textWinnowOracle)),
    NamedQuery("media_frames", mediaFrames, Some(mediaFramesOracle)),
    NamedQuery("similarity_topk", similarityTopK, Some(similarityTopKOracle)),
    NamedQuery("knn_label_audit", knnLabelAuditQ, Some(knnLabelAuditOracle)),
    // retrieval family: bm25 reuses the docTokenCounts memo built by the
    // token-frame consumers above; the hybrid fuses bm25 ⊕ cosine lists
    NamedQuery("bm25_topk", bm25TopkQ, Some(bm25TopkOracle)),
    NamedQuery("hybrid_rrf", hybridRrfQ, Some(hybridRrfOracle)),
    NamedQuery("similarity_ann", similarityAnn, Some(Similarity.lshTopKOracleSql())),
    NamedQuery("similarity_ivf", similarityIvf, Some(similarityIvfOracle)),
    NamedQuery("similarity_ivf_d2", similarityIvfD2,
      Some(similarityIvfD2Oracle)),
    NamedQuery("ann_index_stats", annIndexStats,
      Some(Similarity.ivfCellStatsOracleSql())),
    NamedQuery("similarity_ivf_pruned", similarityIvfPruned,
      Some(similarityIvfOracle)),
    NamedQuery("docs_layout_prune", docsLayoutPrune,
      Some(docsLayoutPruneOracle)),
    NamedQuery("docs_stats_box", docsStatsBox, Some(docsStatsBoxOracle)),
    NamedQuery("ann_recall_audit", annRecallAudit, Some(annRecallOracle)),
    NamedQuery("similarity_ivfpq_rerank", similarityIvfPqRerank,
      Some(Similarity.ivfPqResidualTopKRefinedOracleSql())),
    NamedQuery("media_features", mediaFeatures, Some(mediaFeaturesOracle)),
    NamedQuery("events_props", eventsProps, Some(eventsPropsOracle)),
    NamedQuery("cms_heavy_hitters", cmsHeavyHitters,
      Some(cmsHeavyHittersOracle)),
    NamedQuery("events_pseudonymize", eventsPseudonymize,
      Some(eventsPseudonymizeOracle)),
    NamedQuery("pii_scrub", piiScrub, Some(piiScrubOracle)),
    NamedQuery("events_contract", eventsContract, Some(eventsContractOracle)),
    NamedQuery("events_contract_monitor", eventsContractMonitor,
      Some(eventsContractMonitorOracle)),
    NamedQuery("docs_quarantine", docsQuarantine, Some(docsQuarantineOracle)))
}
