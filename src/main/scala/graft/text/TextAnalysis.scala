package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/**
 * Per-document text analysis for training-data curation: SimHash
 * fingerprints, quality/shape statistics, and a stopword-overlap language
 * identifier. Everything is narrow per-row Catalyst expressions (or one
 * explode+groupBy for SimHash) — embarrassingly parallel, no skew, scales
 * by partition count alone.
 */
object TextAnalysis {

  /**
   * 32-bit SimHash over the token multiset. Bit p (p = 1..32) is the sign
   * of Σ_tokens (+1 if the p-th nibble of md5(token) has its high bit set,
   * else -1) — i.e. each md5 hex position contributes one independent hash
   * bit (`digit >= '8'` over lowercase hex is exactly "top bit set").
   * Output is the 32-char '0'/'1' string; near-duplicate documents land
   * within small Hamming distance. Deterministic and engine-portable —
   * the DuckDB oracle computes the identical 32 signed sums.
   */
  def simhash(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("tok"))
      .withColumn("h", md5(col("tok")))
    val sums = (1 to 32).map(p =>
      sum(when(substring(col("h"), p, 1) >= "8", 1).otherwise(-1)).as(s"s$p"))
    val bits = (1 to 32).map(p => when(col(s"s$p") > 0, "1").otherwise("0"))
    toks.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), concat(bits: _*).as("simhash"))
  }

  /** Hamming distance between two equal-length bit strings — the
    * codegen'd [[org.apache.spark.sql.graftshim.HammingDistance]]
    * expression (byte loop; bytes == chars for the ASCII sketches). */
  def hammingDistance(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.hamming(a, b)

  /**
   * SimHash near-duplicate pairs — banded candidate generation over the
   * 32-bit fingerprints, Hamming-verified: two documents within
   * `maxHamming` bit flips have, by pigeonhole, at least one of the
   * `bands` bands identical whenever maxHamming < bands, so an equi-join
   * on (band, band key) finds every such pair without all-pairs work
   * (same blocking scheme as MinHash-LSH, but over the similarity-
   * preserving SimHash — near-dups differ in FEW bits, random docs in
   * ~16). Band width tunes candidate volume: short texts share most
   * vocabulary, so their simhashes correlate heavily and narrow (8-bit)
   * keys collide corpus-wide; the 16-bit default keeps candidate volume
   * near the true near-dup count. Buckets over `maxBucketSize` are
   * dropped (skew cap, identical trade to the other LSH operators).
   * Output (doc_a, doc_b, hamming) for pairs with hamming <= maxHamming.
   */
  def simhashNearDupPairs(docs: DataFrame, bands: Int = 2, maxHamming: Int = 1,
                          maxBucketSize: Int = 1000): DataFrame =
    simhashNearDupPairsFrom(simhash(docs), bands, maxHamming, maxBucketSize)

  /** [[simhashNearDupPairs]] over an already-computed (possibly shared/
    * persisted) `(doc_id, simhash)` frame — it is read three times
    * (banding + both verify sides). */
  def simhashNearDupPairsFrom(s: DataFrame, bands: Int = 2, maxHamming: Int = 1,
                              maxBucketSize: Int = 1000): DataFrame = {
    require(32 % bands == 0, s"32 bits must split evenly into $bands bands")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val width = 32 / bands
    val bandStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        substring(col("simhash"), 1 + b * width, width).as("bkey")))
    // aux-persisted: both sides of the self-join consume it; registered
    // with the enclosing memo (when any) so releasing the query's memo
    // frees this cache too
    val banded = graft.queries.SharedFrames.aux(s
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey"))))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n"))
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = s.select(col("doc_id").as("__ida"), col("simhash").as("__sha"))
    val sb = s.select(col("doc_id").as("__idb"), col("simhash").as("__shb"))
    cand
      .join(sa, col("__ida") === col("doc_a"))
      .join(sb, col("__idb") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        hammingDistance(col("__sha"), col("__shb")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * Winnowing document fingerprint (Schleimer/Wilkerson/Aiken's rolling
   * window-min over k-gram hashes — the MOSS scheme): hash every
   * `shingleWidth`-gram, slide a `window`-wide frame over the hash
   * sequence, keep each frame's minimum, and the distinct picked hashes
   * are the document's fingerprint set. Guarantees every match of length
   * ≥ window+shingleWidth−1 tokens shares a fingerprint, with ~2/(window+1)
   * of positions sampled. Emitted per document as (count, md5 over the
   * sorted fingerprint set) — two docs share the digest iff they share the
   * exact fingerprint set. All window-function + built-in expressions (one
   * shuffle on doc_id); documents shorter than shingleWidth+window−1
   * tokens have no complete frame and are absent.
   */
  def winnowingFingerprint(docs: DataFrame, shingleWidth: Int = 3,
                           window: Int = 4): DataFrame =
    winnowingPickArrays(docs, shingleWidth, window)
      .filter(size(col("wmins")) > 0)
      .select(col("doc_id"),
        size(col("wmins")).cast("bigint").as("n_fingerprints"),
        // sort_array, not array_sort: SortArray is whole-stage-codegen'd
        // while ArraySort is a CodegenFallback HOF (its default
        // comparator plans as a lambda); they differ only in null
        // placement, which concat_ws skips either way (r22)
        md5(concat_ws("", sort_array(col("wmins")))).as("fingerprint"))

  /** The distinct picked window-min hashes per document — the raw
    * fingerprint SET behind [[winnowingFingerprint]]; two documents
    * sharing any ≥ window+shingleWidth−1-token run share a pick. */
  def winnowingPicks(docs: DataFrame, shingleWidth: Int = 3,
                     window: Int = 4): DataFrame =
    winnowingPickArrays(docs, shingleWidth, window)
      .select(col("doc_id"), explode(col("wmins")).as("wmin"))

  /** (doc_id, wmins): the distinct window-min hash set per document as an
    * array column, computed entirely map-side — hash the positional
    * shingle sequence (transform), slide the `window`-wide frame with a
    * slice+array_min per position, distinct the picks. No shuffle
    * anywhere: per-document work is O(tokens · window) inside one row,
    * so the operator scales by partition count alone. Documents with
    * fewer than `window` shingles have no complete frame → empty set.
    *
    * The hash array is bound as a lambda variable (`transform` over a
    * single-element array) — a named projection column would be INLINED
    * by projection collapse into every one of the O(tokens) frame
    * references, re-hashing the whole document per position. */
  def winnowingPickArrays(docs: DataFrame, shingleWidth: Int = 3,
                          window: Int = 4): DataFrame = {
    // ONE codegen'd pass (r21, graftshim.WinnowMins): hash the shingle
    // sequence with the salt-0 md5, slide the window-min frame, distinct
    // the picks — the nested `transform(array(hashes), ... array_min(
    // slice(...)))` HOF lattice was CodegenFallback, an interpreted
    // O(tokens·window) lambda walk per document; value-identical
    // (TextOpsShimSpec pins it against the HOF form)
    val wmins = org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.WinnowMins(
        org.apache.spark.sql.graftshim.ColumnShim.expression(
          TextOps.shingles(TextOps.tokens(col("text")), shingleWidth)),
        window))
    docs.select(col("doc_id"), wmins.as("wmins"))
  }

  /** The pre-r21 HOF form of [[winnowingPickArrays]] — kept as the
    * equivalence baseline TextOpsShimSpec pins the codegen'd expression
    * against. (The hash array is bound as a lambda variable —
    * `transform` over a single-element array — because a named
    * projection column would be INLINED by projection collapse into
    * every one of the O(tokens) frame references.) */
  private[graft] def winnowingPickArraysHof(docs: DataFrame,
                                            shingleWidth: Int = 3,
                                            window: Int = 4): DataFrame = {
    val hashes = transform(
      TextOps.shingles(TextOps.tokens(col("text")), shingleWidth),
      s => TextOps.saltedHash(0, s))
    val wmins = element_at(
      transform(array(hashes), h =>
        when(size(h) >= window,
          array_distinct(transform(sequence(lit(0), size(h) - window),
            j => array_min(slice(h, j + 1, lit(window))))))
          .otherwise(array().cast("array<string>"))), 1)
    docs.select(col("doc_id"), wmins.as("wmins"))
  }

  /**
   * Corpus-level shape statistics with a per-language ROLLUP (the
   * grouping-sets pattern: per-lang rows plus a grand-total row with
   * NULL lang): doc counts, token volume, mean and exact median doc
   * length. One shuffle on the tiny lang key; the median uses Spark's
   * exact `percentile` (linear-interpolated, same definition as DuckDB's
   * `median`/`quantile_cont`) — at 100 TB swap in `percentile_approx`
   * and drop the oracle to a tolerance check.
   */
  def corpusStats(docs: DataFrame): DataFrame =
    docs
      .select(col("lang"), col("n_chars"),
        size(TextOps.tokens(col("text"))).cast("bigint").as("__toks"))
      .rollup(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__toks")).as("n_tokens"),
        round(avg(col("n_chars")), 6).as("mean_chars"),
        round(percentile(col("n_chars"), lit(0.5)), 6).as("median_chars"))

  /**
   * Corpus snapshot diff — the dataset-release audit: given two
   * snapshots of the same corpus (an OLD release and a NEW candidate),
   * classify every document id present in either as added / removed /
   * changed / unchanged, with both sides' token counts, so a release
   * note ("+12 M docs, −3 M takedowns, 0.4 % edited") is a query, not
   * a guess, and an unexpected mass-removal or mass-edit fails review
   * before the corpus ships. Change detection compares md5(text) — the
   * same content key the dedup family trusts — never the texts
   * themselves across the join.
   *
   * One row per doc_id in either snapshot:
   * (doc_id, source, status, old_tokens, new_tokens) — source from
   * whichever side has the row (new side wins for changed docs),
   * old_tokens/new_tokens NULL on the side the doc is absent from.
   *
   * Scale shape: ONE equi-keyed full-outer join on doc_id (each side
   * pre-projected to (id, source, md5, token count) — the texts are
   * dropped map-side before the shuffle, so the join moves ~40 bytes a
   * row, not documents); everything else is narrow per-row expressions.
   * Linear in corpus size with one shuffle at any scale.
   *
   * Row PRESENCE is carried by a per-side constant marker, never by the
   * hash's nullability: a NULL-text document hashes to NULL but is still
   * PRESENT in its snapshot, so it must read removed/added/changed by
   * where the ROW is, and NULL-text-on-both-sides compares unchanged
   * (null-safe hash equality) — ADVICE r18.
   */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame): DataFrame = {
    def side(d: DataFrame, tag: String): DataFrame =
      d.select(col("doc_id"),
        col("source").as(s"${tag}_source"),
        lit(1).as(s"${tag}_p"),
        md5(col("text")).as(s"${tag}_h"),
        size(TextOps.tokens(col("text"))).as(s"${tag}_tokens"))
    side(oldDocs, "old")
      .join(side(newDocs, "new"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("new_source"), col("old_source")).as("source"),
        when(col("old_p").isNull, "added")
          .when(col("new_p").isNull, "removed")
          .when(!(col("old_h") <=> col("new_h")), "changed")
          .otherwise("unchanged").as("status"),
        col("old_tokens"), col("new_tokens"))
  }

  /**
   * Deterministic train/val/test assignment — the split a training
   * pipeline must reproduce run-over-run and engine-over-engine: the
   * first two hex chars of md5(content) are uniform over 256 values, so
   * LEXICOGRAPHIC thresholds give stable fractions ('cd' → 205/256 ≈ 80%,
   * 'e6' → 25/256 ≈ 10%, rest ≈ 10%) with no float math, no RNG state,
   * and identical semantics in any engine that can md5 and compare
   * strings. Content-keyed (not id-keyed) so exact duplicates land in
   * the same split — the split itself can't leak a duplicated document
   * across the train/eval boundary. Pure per-row projection; no shuffle.
   */
  def hashSplit(docs: DataFrame, key: Column = col("text")): DataFrame = {
    val h2 = substring(md5(key), 1, 2)
    docs.withColumn("split",
      when(h2 < "cd", "train").when(h2 < "e6", "val").otherwise("test"))
  }

  /**
   * Leakage-SAFE train/val/test split — [[hashSplit]] hardened against
   * NEAR-duplicates. Content keying already pins exact copies to one
   * split, but near-duplicate documents differ in content, hash
   * independently, and can straddle the train/eval boundary — the
   * leakage vector the dedup pipeline exists to close, reopened by the
   * split itself. Here every member of a near-dup cluster
   * ([[graft.text.Dedup.clusters]] membership) splits by its cluster
   * CANONICAL's content, so a cluster crosses the boundary atomically;
   * unclustered documents key on their own content and get exactly
   * their [[hashSplit]] assignment (the two operators agree wherever
   * leakage is impossible).
   *
   * Scale: two equi joins on doc ids — the membership side holds only
   * docs that appear in the pair graph (≪ corpus), and the canonical-
   * content lookup joins the corpus to itself on the key id; the split
   * itself stays a projection.
   *
   * @param membership a [[graft.text.Dedup.clusters]] output over the
   *                   same corpus (doc_id, cluster_id, ...)
   */
  /** Per-source (median, MAD) of `n_chars` — the frozen baseline a
    * streaming [[robustLengthGateStream]] scores against: computed ONCE
    * over a landed corpus snapshot (one source-key shuffle, the same
    * two chained unordered window passes as [[robustLengthGate]],
    * de-windowed to a tiny per-source aggregate frame). */
  def sourceLengthStats(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("source"), col("n_chars").cast("double").as("v"))
      .groupBy(col("source"))
      .agg(percentile(col("v"), lit(0.5)).as("med"),
        count(lit(1)).as("n_docs"))
      .join(
        docs.filter(col("text").isNotNull)
          .select(col("source"), col("n_chars").cast("double").as("v")),
        Seq("source"))
      .groupBy(col("source"), col("med"), col("n_docs"))
      .agg(percentile(abs(col("v") - col("med")), lit(0.5)).as("mad"))
      .select(col("source"), col("med"), col("mad"), col("n_docs"))

  /**
   * Ingest-time robust length gate — the streaming shape of
   * [[robustLengthGate]], on the broadcast-model pattern of
   * `hashedLinearScoreStateless`: the per-source (median, MAD) baseline
   * is a FROZEN [[sourceLengthStats]] snapshot of the landed corpus,
   * broadcast into every microbatch (stream-static equi join — no
   * state, no watermark, append-safe), and each arriving document
   * scores against its source's landed statistics in a pure projection.
   * Same modified z-score, same round-before-compare, same zero-MAD
   * keep-with-NULL rule as the batch gate; a document from a source
   * ABSENT from the snapshot keeps with NULL robust_z (no baseline is
   * no evidence — the batch gate over the landed corpus catches it next
   * pass). Batch-formula parity is pinned in StreamingCurationSpec.
   *
   * The deliberate difference from the batch operator: the batch gate's
   * baseline includes the scored documents themselves (leave-one-in
   * over the corpus), while this scores NEW arrivals against the landed
   * snapshot — exactly the semantics an ingest filter wants (arrivals
   * must not move the bar they are judged by).
   */
  def robustLengthGateStream(docStream: DataFrame, stats: DataFrame,
                             threshold: Double = 3.5): DataFrame =
    docStream.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("double").as("n_chars"))
      .join(broadcast(stats.select(col("source"), col("med"), col("mad"))),
        Seq("source"), "left")
      .withColumn("robust_z", when(col("mad") > 0.0,
        floor(lit(0.6745) * (col("n_chars") - col("med")) / col("mad")
          * 1e6 + 0.5) / 1e6))
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("n_chars"), col("robust_z"),
        (col("mad").isNull || col("mad") <= 0.0 ||
          abs(col("robust_z")) <= threshold).as("keep"))

  /**
   * Streaming note: the operator is two stream-static LEFT equi joins
   * plus a projection, so it runs UNCHANGED on a streaming `docs` with
   * static `membership`/`canonDocs` sides (no state, no watermark) —
   * parity pinned in StreamingCurationSpec. A streamed document absent
   * from the membership snapshot keys on its own content (the canon
   * lookup coalesces back to the row's own text) — routing NEW
   * near-dups of landed clusters is the incremental-dedup operator's
   * job, not the split's.
   *
   * @param canonDocs where to resolve canonical members' content —
   *                  defaults to `docs` (the batch form); a streaming
   *                  caller passes the landed corpus snapshot
   */
  def clusterSafeSplit(docs: DataFrame, membership: DataFrame,
                       canonDocs: DataFrame = null): DataFrame = {
    val member = membership.select(col("doc_id"), col("cluster_id"))
    // canon lookup restricted to CANONICAL ids before joining: only
    // cluster canonicals are ever resolved (unclustered rows coalesce to
    // their own text), so the right side is membership-sized — without
    // the semi join it would be the whole corpus joined against itself,
    // defeating the membership ≪ corpus scale claim
    val canon = Option(canonDocs).getOrElse(docs)
      .select(col("doc_id").as("__kid"), col("text").as("__ktext"))
      .join(member.select(col("cluster_id").as("__kid")).distinct(),
        Seq("__kid"), "left_semi")
    hashSplit(
      docs.select(col("doc_id"), col("text"))
        .join(member, Seq("doc_id"), "left")
        .withColumn("__kid", coalesce(col("cluster_id"), col("doc_id")))
        .join(canon, Seq("__kid"), "left"),
      coalesce(col("__ktext"), col("text")))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** Corpus-level split summary (one shuffle on the 3-value key). */
  def splitSummary(docs: DataFrame): DataFrame =
    hashSplit(docs)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        min(col("doc_id")).as("min_doc_id"))

  /**
   * Corpus vocabulary, top `k` tokens by total occurrences (ties broken
   * lexicographically so the cutoff is engine-deterministic): term
   * frequency plus document frequency per token — the vocabulary /
   * stop-list / BPE-seed building block of a training pipeline.
   *
   * Scale shape: explode → two-level aggregation. The (doc_id, token)
   * pre-aggregation gives document frequency without a count-distinct
   * expand, and hot tokens ("the" in ~every doc) are absorbed by map-side
   * partial aggregation before either shuffle. The final top-k is
   * `ORDER BY ... LIMIT k` — Spark plans TakeOrderedAndProject (per-
   * partition heaps + driver merge of k rows), never a global sort.
   */
  /**
   * The (doc, token, occurrence-count) frame — the ONE occurrence-grain
   * shuffle shared by [[unigramLogProb]], [[tokenEntropy]],
   * [[tfidfTopTerms]] and [[vocabTopK]] (each takes it via `sharedTf`;
   * the registry memoizes a single copy per session). Map-side partial
   * aggregation absorbs within-doc repeats, and the shuffle key is
   * (doc, token), so corpus-hot tokens never concentrate on one
   * partition.
   */
  /** @param unicode opt into the Unicode tokenizer
    *   ([[TextOps.unicodeTokens]]: NFC + casefold + letter/digit-run
    *   split) for every statistic downstream of this frame. Default
    *   false — the whitespace tokenizer is the verified reference-parity
    *   surface; the knob exists so a multi-script corpus can flip ONE
    *   switch instead of re-plumbing each consumer (r14 verdict ask #5). */
  def docTokenCounts(docs: DataFrame, unicode: Boolean = false): DataFrame = {
    val tok = if (unicode) TextOps.unicodeTokens _ else TextOps.tokens _
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(tok(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("__k"))
  }

  /**
   * Model-based quality scoring — the hashed-feature LINEAR CLASSIFIER
   * family (the fastText / logistic-regression quality filter every
   * large corpus pipeline runs after the heuristic gates): each token
   * hashes into one of `nBuckets` feature buckets, a weight-per-bucket
   * model table scores the document as the token-frequency-weighted
   * mean bucket weight, and documents at or above `threshold` (on the
   * logit scale — sigmoid is monotone, so thresholding the logit IS
   * thresholding the probability) are kept.
   *
   * WEIGHTS: pass `weights` — a TRAINED µ-int log-odds table from
   * [[trainNbWeights]] (hashed-unigram Naive Bayes fit on a bounded
   * labeled sample, the Lloyd-codebook discipline: driver-side doubles,
   * oracle-replayable in SQL CTEs) — and the logit is the per-token mean
   * log-odds of the target class. With `weights = None` the table falls
   * back to the r-early deterministic stub (bucket id → salted-md5 →
   * integer in [-1000, 1000]), kept as the untrained null model the
   * separation receipt measures against. Either way the deployment
   * shape is identical: the weight table is a `nBuckets`-row frame
   * broadcast to every executor (exactly how a quantized fastText/LR
   * model deploys), token→bucket hashing is map-side over the shared
   * (doc, token, count) frame, and the score aggregates in EXACT
   * integer space (Σ count·w_int is order-independent, unlike a double
   * sum), with ONE IEEE division at the end — so the DuckDB oracle
   * reproduces scores bit-for-bit. The PLAN does not change when
   * weights swap (pinned in TextAnalysisSpec).
   *
   * Plan: tokens → map-side bucket hash → broadcast-hash-join (the
   * weight table never shuffles the corpus) → partial-aggregated
   * groupBy(doc_id) — one shuffle at document grain.
   */
  def hashedLinearScore(docs: DataFrame, nBuckets: Int = 4096,
                        threshold: Double = 0.0,
                        sharedTf: Option[DataFrame] = None,
                        weights: Option[Array[Long]] = None): DataFrame = {
    val spark = docs.sparkSession
    val wtable = weights match {
      case Some(w) =>
        require(w.length == nBuckets, s"weight table ${w.length} != $nBuckets")
        // trained µ-int weights fold in as a bucket-indexed literal table
        // (nBuckets rows — the same bounded-driver-data contract as the
        // PQ codebooks); element_at over ONE typedlit node keeps the
        // microbatch/streaming plan at one Literal, not nBuckets
        spark.range(nBuckets.toLong).select(col("id").as("__b"),
          element_at(typedlit(w.toSeq), (col("id") + 1).cast("int")).as("__w"))
      case None =>
        spark.range(nBuckets.toLong).select(
          col("id").as("__b"),
          (conv(substring(md5(concat(lit("w:"), col("id").cast("string"))), 1, 8),
            16, 10).cast("long") % 2001 - 1000).as("__w"))
    }
    // stub weights are milli-units (scale ×1000 into µ-space); trained
    // weights are already µ-ints (scale ×1)
    val mult = if (weights.isDefined) 1.0 else 1000.0
    sharedTf.getOrElse(docTokenCounts(docs))
      .withColumn("__b",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % nBuckets)
      .join(broadcast(wtable), Seq("__b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__k") * col("__w")).as("__sw"),
        sum(col("__k")).as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        microLogit(col("__sw"), col("n_tokens"), mult).as("logit"),
        (microLogit(col("__sw"), col("n_tokens"), mult) >= threshold).as("keep"))
  }

  /** The classifier family's bounded deterministic sample — the
    * `trainN` tokenizable documents with the smallest md5(salt:doc_id),
    * labeled by `isTarget` as `__y` ∈ {0, 1}. ONE definition for the NB
    * fit, the LR fit and the held-out eval's complement cut (divergent
    * copies would silently train and evaluate on different samples).
    * when/otherwise, not a bare cast: a NULL predicate row must read
    * ALIEN (the oracle's CASE ... ELSE 0), not null-out of both counts. */
  private def labeledSample(docs: DataFrame, isTarget: Column,
                            trainN: Int, salt: String): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), when(isTarget, 1).otherwise(0).as("__y"),
        md5(concat(lit(salt + ":"), col("doc_id").cast("string"))).as("__hk"))
      .orderBy(col("__hk"), col("doc_id"))
      .limit(trainN)
      .select(col("doc_id"), col("__y"))

  /**
   * Hashed-unigram Naive Bayes training — the fit that turns
   * [[hashedLinearScore]] from a stub into a trained quality/language
   * classifier, under the same discipline the PQ/IVF codebooks follow:
   * a BOUNDED deterministic sample, integer-exact distributed counting,
   * driver-side closed-form weights, and a DuckDB CTE replay
   * ([[graft.queries.DataPipelineQueries.qualityClassifierOracle]]) so
   * the downstream scores stay hash-exact.
   *
   * Fit: the `trainN` tokenizable documents with the smallest
   * `md5(salt:doc_id)` form the labeled sample (labels from `isTarget`,
   * e.g. `lang = 'en'` — the target-language/quality-slice labeling
   * every corpus filter starts from). Per hashed bucket b, target and
   * alien token counts ct_b / cn_b aggregate distributedly (≤ nBuckets
   * rows collect — bounded at any corpus size); the weight is the
   * add-one-smoothed multinomial NB log-odds on the µ-int grid:
   *
   *   w_b = floor(1e6 · ln((ct_b+1)·(N+B) / ((cn_b+1)·(T+B))) + 0.5)
   *
   * with T = Σct, N = Σcn, B = nBuckets. Both ratio operands are exact
   * integer-valued doubles (< 2^53), so the division and the single ln
   * see identical IEEE inputs in every engine; buckets unseen in
   * training get the smoothed default (ct=cn=0). Scoring a document by
   * the count-weighted mean of these weights IS the NB class log-odds
   * per token — the per-token mean makes the threshold length-invariant
   * (the DSIR avg_log_ratio convention).
   *
   * Scale shape: the sample select is a TakeOrdered (driver holds
   * trainN ids only), counting reuses the shared (doc, token, count)
   * frame joined against the BROADCAST sample ids, and the collect is
   * ≤ nBuckets rows of two longs. Nothing corpus-sized ever reaches
   * the driver; retraining at 100 TB costs one pass over the token
   * frame restricted to trainN documents.
   */
  def trainNbWeights(docs: DataFrame, isTarget: Column, nBuckets: Int = 4096,
                     trainN: Int = 256, salt: String = "qcls",
                     sharedTf: Option[DataFrame] = None): Array[Long] = {
    val lab = labeledSample(docs, isTarget, trainN, salt)
    val counts = sharedTf.getOrElse(docTokenCounts(docs))
      .join(broadcast(lab), Seq("doc_id"))
      .withColumn("__b",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % nBuckets)
      .groupBy(col("__b"))
      .agg(sum(when(col("__y") === 1, col("__k")).otherwise(0L)).as("__ct"),
        sum(when(col("__y") === 0, col("__k")).otherwise(0L)).as("__cn"))
      .collect()
    val ct = new Array[Long](nBuckets)
    val cn = new Array[Long](nBuckets)
    counts.foreach { r =>
      val b = r.getLong(0).toInt
      ct(b) = r.getLong(1)
      cn(b) = r.getLong(2)
    }
    val t = ct.sum
    val n = cn.sum
    Array.tabulate(nBuckets) { b =>
      val num = (ct(b) + 1L) * (n + nBuckets)
      val den = (cn(b) + 1L) * (t + nBuckets)
      math.floor(1e6 * math.log(num.toDouble / den.toDouble) + 0.5).toLong
    }
  }

  /**
   * Hashed-unigram LOGISTIC-REGRESSION training — the trained-linear
   * sibling of [[trainNbWeights]] (the fastText production shape: a
   * discriminatively-fit linear model over hashed bag-of-words
   * features, where NB is the closed-form generative baseline). Same
   * bounded deterministic sample (the md5(salt:doc_id) TakeOrdered
   * cut), same µ-int weight grid, same broadcast deployment through
   * [[hashedLinearScore]] — only the fit differs: `epochs` rounds of
   * FULL-BATCH gradient descent on the logistic loss, every step on an
   * engine-exact integer grid so the DuckDB oracle replays the whole
   * optimization as epoch-unrolled CTEs.
   *
   * Why full-batch, not per-example SGD: summing the gradient over the
   * sample is ORDER-FREE (exact integer addition commutes), which is
   * what makes the fit deterministic and relationally replayable — the
   * Lloyd-loop discipline applied to gradient descent. Per epoch, with
   * per-token-frequency features x_db = c_db/n_d and weights w in
   * µ-logits:
   *
   *   margin  m_d = floor(Σ_b c_db·w_b / n_d + 0.5)          (µ-int)
   *   prob    P_d = floor(1e6 / (1 + exp(−m_d/1e6)) + 0.5)   (µ-int)
   *   grad    g_b = Σ_d floor((y_d·1e6 − P_d)·c_db / n_d + 0.5)
   *   update  w_b += floor(g_b·lr / N + 0.5)                 (N = |sample|)
   *
   * Every division sees exact-integer IEEE operands (all intermediates
   * < 2^53) and every quantizer is the shared floor(+0.5) grid; the one
   * transcendental per (epoch, doc) is `exp`, the same residual-risk
   * class as the NB fit's single `ln` (both engines' libm agree on
   * these magnitudes — the sf0.1 oracle gate is the standing tripwire).
   *
   * Scale shape: the per-doc bucket-count frame restricted to the
   * broadcast sample persists ONCE (sample-grain, tiny); each epoch is
   * one distributed aggregation collecting ≤ nBuckets gradient rows —
   * `epochs` serialized actions total, corpus never re-read, nothing
   * corpus-sized near the driver. The learned table deploys exactly
   * like the NB one (nBuckets-row broadcast; stateless twin row-exact,
   * pinned in TextAnalysisSpec).
   */
  def trainLrWeights(docs: DataFrame, isTarget: Column, nBuckets: Int = 4096,
                     trainN: Int = 256, salt: String = "qcls",
                     sharedTf: Option[DataFrame] = None,
                     epochs: Int = 4, lr: Long = 256L): Array[Long] = {
    val lab = labeledSample(docs, isTarget, trainN, salt)
    val hTrn = sharedTf.getOrElse(docTokenCounts(docs))
      .join(broadcast(lab), Seq("doc_id"))
      .withColumn("__b",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % nBuckets)
      .groupBy(col("doc_id"), col("__y"), col("__b"))
      .agg(sum(col("__k")).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // every sampled doc has >= 1 token (split of non-null text is
      // never empty), so the distinct count IS the sample size
      val n = hTrn.select(col("doc_id")).distinct().count()
      val w = new Array[Long](nBuckets)
      for (_ <- 1 to epochs) {
        // snapshot (toVector copies; toSeq would alias the mutated array)
        val wcol = element_at(typedlit(w.toVector),
          (col("__b") + 1).cast("int"))
        val perDoc = hTrn
          .groupBy(col("doc_id"), col("__y"))
          .agg(sum(col("__c") * wcol).as("__S"), sum(col("__c")).as("__n"))
          .withColumn("__m",
            floor(col("__S").cast("double") / col("__n") + 0.5))
          .select(col("doc_id"), col("__n"),
            (col("__y") * lit(1000000L) -
              floor(lit(1000000.0)
                / (lit(1.0) + exp(-(col("__m") / lit(1000000.0)))) + 0.5))
              .as("__r"))
        val grads = hTrn
          .join(perDoc, Seq("doc_id"))
          .groupBy(col("__b"))
          .agg(sum(floor(col("__r") * col("__c") / col("__n") + 0.5))
            .as("__g"))
          .collect()
        grads.foreach { r =>
          val b = r.getLong(0).toInt
          w(b) += math.floor(r.getLong(1) * lr.toDouble / n + 0.5).toLong
        }
      }
      w
    } finally hTrn.unpersist()
  }

  /**
   * Held-out separation receipt for a trained [[hashedLinearScore]]
   * model — the evaluation a pipeline reads before trusting a quality
   * filter: over the documents NOT in the training sample (same
   * `md5(salt:doc_id)` TakeOrdered cut as [[trainNbWeights]], so
   * train/eval are disjoint by construction), one row of
   * `(n_pos, n_neg, mean_logit_pos, mean_logit_neg, auc)`.
   *
   * AUC is the exact Mann–Whitney rank statistic with the standard
   * half-credit for ties — computed in INTEGER space (logits are µ-ints
   * so ties are well-defined): group by distinct logit, running alien
   * count below each score, 2·U = Σ_v pos_v·(2·neg_below_v + neg_v),
   * AUC = 2U / (2·n_pos·n_neg) rounded to 6 dp. No pair join: one
   * aggregation at distinct-score grain plus one prefix sum over it.
   *
   * Scale shape (r20 — was a partition-less `Window.orderBy(__s)`, a
   * single-task sort over every distinct logit): the prefix sum is the
   * [[packShards]]/[[selectTokenBudget]] two-pass discipline —
   * range-partition the distinct-score frame by `__s`, run the running
   * alien count WITHIN each partition, roll each partition up to one
   * (pos, neg, local-2U) row, and close the cross-partition term
   * relationally: 2U = Σ_i local2U_i + 2·pos_i·negBefore_i, where
   * negBefore_i (the alien mass in earlier partitions) comes from an
   * explode-sequence pair fan-out over the ≤|partitions|-row rollup —
   * all equi joins, no global window, no driver collect. Every term is
   * an exact int64, so the regrouping is value-identical to the serial
   * form by construction; [[classifierEvalGlobalWindow]] keeps the
   * one-window plan as the equivalence baseline TextAnalysisSpec pins.
   */
  def classifierEval(docs: DataFrame, isTarget: Column,
                     nBuckets: Int = 4096, trainN: Int = 256,
                     salt: String = "qcls",
                     sharedTf: Option[DataFrame] = None,
                     weights: Option[Array[Long]] = None): DataFrame =
    classifierEvalImpl(docs, isTarget, nBuckets, trainN, salt, sharedTf,
      weights, twoPass = true)

  /** The pre-r20 single-window form of [[classifierEval]] — one global
    * `Window.orderBy(__s)` running sum, the simplest possible plan but a
    * one-task sort at scale. Kept (unregistered) as the equivalence
    * baseline the spec checks the distributed default against, the
    * [[packShardsGlobalWindow]] convention. */
  private[graft] def classifierEvalGlobalWindow(
      docs: DataFrame, isTarget: Column,
      nBuckets: Int = 4096, trainN: Int = 256, salt: String = "qcls",
      sharedTf: Option[DataFrame] = None,
      weights: Option[Array[Long]] = None): DataFrame =
    classifierEvalImpl(docs, isTarget, nBuckets, trainN, salt, sharedTf,
      weights, twoPass = false)

  private def classifierEvalImpl(docs: DataFrame, isTarget: Column,
                                 nBuckets: Int, trainN: Int, salt: String,
                                 sharedTf: Option[DataFrame],
                                 weights: Option[Array[Long]],
                                 twoPass: Boolean): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val scored = hashedLinearScore(docs, nBuckets, sharedTf = sharedTf,
      weights = weights)
    val trainIds = labeledSample(docs, isTarget, trainN, salt)
      .select(col("doc_id"))
    val ev = scored
      .join(broadcast(trainIds.withColumn("__tr", lit(1))), Seq("doc_id"), "left")
      .filter(col("__tr").isNull)
      .join(docs.select(col("doc_id"),
          when(isTarget, 1).otherwise(0).as("__y")),
        Seq("doc_id"))
      // µ-int logit → exact integer score key (ties well-defined)
      .select(col("__y"), floor(col("logit") * 1e6 + 0.5).cast("long").as("__s"))
    val bys = ev.groupBy(col("__s"))
      .agg(sum(col("__y")).as("__p"), sum(lit(1) - col("__y")).as("__q"))
    val rankAgg =
      if (!twoPass) {
        bys.withColumn("__qb", coalesce(sum(col("__q")).over(
            W.orderBy(col("__s"))
              .rowsBetween(W.unboundedPreceding, -1)), lit(0L)))
          .agg(sum(col("__p")).as("n_pos"), sum(col("__q")).as("n_neg"),
            sum(col("__p") * (lit(2) * col("__qb") + col("__q"))).as("__u2"))
      } else {
        // pass 1: range-partition by score, local running alien count
        val parts = bys.repartitionByRange(col("__s"))
          .withColumn("__pid", spark_partition_id())
        val wIn = W.partitionBy(col("__pid")).orderBy(col("__s"))
          .rowsBetween(W.unboundedPreceding, -1)
        // pass 2: one row per partition — class masses + the local 2U.
        // Persist THIS frame, not `parts` (ADVICE r20 #1): the three
        // downstream consumers (pair fan-out, negBefore join, final
        // rollup) all read perPart, so caching the ≤|partitions|-row
        // rollup pins the score-grain pass to exactly one computation
        // (with one consistent set of spark_partition_id stamps) while
        // shrinking the un-owned cache a direct caller leaks from
        // score grain to partition grain.
        val perPart = graft.queries.SharedFrames.aux(parts
          .withColumn("__qbl", coalesce(sum(col("__q")).over(wIn), lit(0L)))
          .groupBy(col("__pid"))
          .agg(sum(col("__p")).as("__pp"), sum(col("__q")).as("__qq"),
            sum(col("__p") * (lit(2) * col("__qbl") + col("__q"))).as("__u2l")))
        // cross-partition closure: negBefore_i = Σ_{j<i} qq_j, built as a
        // receiver-side explode(sequence(0, i-1)) pair fan-out equi-joined
        // back on j (≤ |partitions|² pair rows — partition grain, never
        // data grain), the mix_epoch_materialize fan-out idiom
        val pairs = perPart
          .filter(col("__pid") > 0)
          .select(col("__pid").as("__i"),
            explode(sequence(lit(0), col("__pid") - 1)).as("__j"))
        val negBefore = pairs
          .join(perPart.select(col("__pid").as("__j"), col("__qq").as("__qj")),
            Seq("__j"))
          .groupBy(col("__i")).agg(sum(col("__qj")).as("__nb"))
        perPart
          .join(negBefore, col("__pid") === col("__i"), "left")
          .select(col("__pp"), col("__qq"),
            (col("__u2l") + lit(2) * col("__pp") * coalesce(col("__nb"), lit(0L)))
              .as("__u2p"))
          .agg(sum(col("__pp")).as("n_pos"), sum(col("__qq")).as("n_neg"),
            sum(col("__u2p")).as("__u2"))
      }
    rankAgg
      .crossJoin(ev.groupBy(col("__y"))
        .agg((floor(sum(col("__s")).cast("double") / count(lit(1)) + 0.5) / 1e6)
          .as("__m"))
        .groupBy()
        .agg(max(when(col("__y") === 1, col("__m"))).as("mean_logit_pos"),
          max(when(col("__y") === 0, col("__m"))).as("mean_logit_neg")))
      .select(col("n_pos"), col("n_neg"),
        col("mean_logit_pos"), col("mean_logit_neg"),
        // µ-int floor, not round(x, 6): both operands are exact-integer
        // doubles, so the scaled division is one shared IEEE op and
        // floor(+0.5) agrees in every engine; a one-class eval set reads
        // NULL (no pairs to rank)
        when(col("n_pos") * col("n_neg") > 0,
          floor(col("__u2").cast("double") * lit(1e6)
            / (lit(2.0) * col("n_pos") * col("n_neg")) + 0.5) / lit(1e6))
          .as("auc"))
  }

  /** Tie-proof 6-dp logit: Σc·w scaled into µ-units (`mult` = 1000 for
    * the milli-unit stub weights, 1 for trained µ-int weights), divided
    * by n and rounded via INTEGER micro-units. `round(x, 6)` scales
    * before rounding, and the two engines scale differently (Java
    * re-rounds the double's shortest decimal representation; DuckDB
    * multiplies by 1e6 in floating point), so an exact-tie rational
    * like S·1000/n = k + 1/2 can land on different sides (observed once
    * at sf0.001). Both inputs are integers < 2^53, so `S·mult/n` is the
    * identical IEEE division in both engines, single-argument
    * round-half-away-from-zero agrees, and dividing the integer-valued
    * result by 1e6 is again one shared IEEE op. */
  private def microLogit(sw: Column, n: Column, mult: Double = 1000.0): Column =
    round(sw * lit(mult) / n) / lit(1e6)

  /**
   * Stateless per-row form of [[hashedLinearScore]] — the INGEST-time
   * shape of the same model: the 4096-bucket weight table collapses to
   * a single array literal in the plan (`typedlit`, one Literal node,
   * not 4096), and the score folds over each row's own tokens with
   * `aggregate(...)` — no explode, no join, no aggregation, so the
   * operator is append-safe on an unbounded stream with ZERO state
   * (see [[graft.streaming.StreamingCuration.qualityClassifierStream]]).
   * Weights are the same salted-md5 stub computed driver-side
   * (O(nBuckets) scalar work); scores are identical to the batch
   * operator row-for-row (asserted in TextAnalysisSpec, incl. the
   * integer-exact Σ count·w — the fold sums the same longs in document
   * order, and long addition commutes exactly).
   */
  def hashedLinearScoreStateless(docs: DataFrame, nBuckets: Int = 4096,
                                 threshold: Double = 0.0,
                                 weights: Option[Array[Long]] = None)
      : DataFrame = {
    def hex8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    weights.foreach(w => require(w.length == nBuckets,
      s"weight table ${w.length} != $nBuckets"))
    val mult = if (weights.isDefined) 1.0 else 1000.0
    val toks = TextOps.tokens(col("text"))
    // codegen'd one-pass fold (r21, graftshim.BucketWeightSums): the
    // `aggregate(toks, 0L, acc + element_at(w, md5-bucket))` HOF was a
    // CodegenFallback lambda interpreter per token per row on the
    // streaming ingest path; value-identical (TextOpsShimSpec)
    val wArr = weights.getOrElse(
      (0 until nBuckets).map(b => hex8(s"w:$b") % 2001 - 1000L).toArray)
    val sw = element_at(
      org.apache.spark.sql.graftshim.ColumnShim.column(
        org.apache.spark.sql.graftshim.BucketWeightSums(
          org.apache.spark.sql.graftshim.ColumnShim.expression(toks),
          Array(wArr))), 1)
    docs.filter(col("text").isNotNull)
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("logit", microLogit(sw, col("n_tokens"), mult))
      .select(col("doc_id"), col("n_tokens"), col("logit"),
        (col("logit") >= threshold).as("keep"))
  }

  /**
   * DSIR-style importance weights for data selection (Xie et al. 2023,
   * "Data Selection for Language Models via Importance Resampling"):
   * score every raw document by how much it resembles a TARGET slice
   * under two bag-of-hashed-features models. Each token hashes into one
   * of `nBuckets` buckets; unigram bucket counts over the target slice
   * and over the whole raw corpus become add-one-smoothed multinomials
   * p (target) and q (raw), and a document's weight is its feature-count
   * -weighted log-likelihood ratio Σ_b c_b·(ln p_b − ln q_b). Output
   * `(doc_id, n_tokens, log_ratio, avg_log_ratio)` — the total ratio
   * (DSIR's resampling weight) plus the per-token mean (length-
   * debiased, the form to threshold on).
   *
   * Scale shape: both model tables are bucket-grain (≤ `nBuckets`
   * rows), so the scoring join BROADCASTS the model and the token frame
   * aggregates straight to doc grain — the corpus shuffles once at
   * occurrence grain (shared with every other consumer of
   * [[docTokenCounts]]) and once at doc grain. The target slice is
   * identified by a semi-join on `targetIds`; DSIR targets are small
   * curated sets (wiki/books-sized, not corpus-sized), so that join
   * broadcasts too. Totals T and R enter via single-row cross joins,
   * never a driver collect.
   */
  def dsirWeights(docs: DataFrame, targetIds: DataFrame, nBuckets: Int = 1024,
                  sharedTf: Option[DataFrame] = None): DataFrame = {
    val h = sharedTf.getOrElse(docTokenCounts(docs))
      .withColumn("__b",
        conv(substring(md5(col("token")), 1, 8), 16, 10).cast("long")
          % nBuckets)
    val tcnt = h.join(broadcast(targetIds.select(col("doc_id"))), Seq("doc_id"))
      .groupBy(col("__b")).agg(sum(col("__k")).as("__ct"))
    val rcnt = h.groupBy(col("__b")).agg(sum(col("__k")).as("__cr"))
    val tTot = tcnt.agg(sum(col("__ct")).as("__tT"))
    val rTot = rcnt.agg(sum(col("__cr")).as("__rT"))
    // bucket-grain model: ≤ nBuckets rows; ln of identical IEEE
    // divisions in both engines (integer numerators/denominators
    // converted exactly to double)
    val model = rcnt
      .join(tcnt, Seq("__b"), "left")
      .crossJoin(tTot).crossJoin(rTot)
      .select(col("__b"),
        (log((coalesce(col("__ct"), lit(0L)) + 1).cast("double")
            / (col("__tT") + nBuckets).cast("double"))
          - log((col("__cr") + 1).cast("double")
            / (col("__rT") + nBuckets).cast("double"))).as("__lr"))
    h.join(broadcast(model), Seq("__b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__k")).as("n_tokens"),
        sum(col("__k") * col("__lr")).as("__s"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("__s"), 6).as("log_ratio"),
        round(col("__s") / col("n_tokens"), 6).as("avg_log_ratio"))
  }

  def vocabTopK(docs: DataFrame, k: Int = 100,
                sharedTf: Option[DataFrame] = None): DataFrame =
    sharedTf.getOrElse(docTokenCounts(docs))
      .groupBy(col("token"))
      .agg(sum(col("__k")).as("n_occurrences"),
        count(lit(1)).as("doc_freq"))
      .orderBy(col("n_occurrences").desc, col("token"))
      .limit(k)

  /**
   * Per-source vocabulary growth — the Heaps-law monitor a corpus
   * pipeline tracks per ingestion source: token volume, distinct-type
   * count, their ratio (type–token ratio: low ⇒ repetitive/boilerplate
   * source, high ⇒ diverse or noisy), and document count. The per-source
   * row is what source-level curation decisions (drop, cap, re-crawl)
   * key on.
   *
   * Scale shape: explode → (source, token) pre-aggregation — hot tokens
   * absorbed map-side before the shuffle, the [[vocabTopK]] discipline —
   * then one |sources|-key rollup; n_docs comes from a separate
   * docs-level aggregate joined on the tiny source key, not a
   * count-distinct expand through the token stream.
   */
  def vocabBySource(docs: DataFrame): DataFrame = {
    val perToken = docs
      .select(col("source"), col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("__tf"))
      .groupBy(col("source"))
      .agg(sum(col("__tf")).as("n_tokens"), count(lit(1)).as("n_types"))
    val perDoc = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    perToken
      .join(perDoc, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 6)
          .as("type_token_ratio"))
  }

  /**
   * BPE merge candidates — the first iteration of byte-pair-encoding
   * tokenizer training: corpus-weighted counts of adjacent character
   * pairs within words, ranked. A full BPE trainer repeats
   * merge-and-recount; the expensive distributed step is exactly this
   * pair count, so it is the operator worth owning (the iteration loop
   * is driver-side control flow over a shrinking vocab).
   *
   * Scale shape: two hash aggregations. The corpus first collapses to
   * (word, count) — the word VOCABULARY, orders of magnitude smaller
   * than the token stream, which is what makes iterated BPE training
   * tractable — then each vocab word explodes into its `len-1`
   * overlapping 2-char substrings (`substring(word, i, 2)` — no
   * intermediate char array) and pair counts sum `word_count`, not 1.
   * Final top-k is TakeOrderedAndProject with the pair string as the
   * deterministic tie-break.
   */
  def bpeMergeCandidates(docs: DataFrame, k: Int = 50): DataFrame = {
    val words = docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__wc"))
    // codegen'd 2-gram extraction (graftshim.CharNgrams, r22) — the
    // interpreted transform(sequence(...), substr) form is kept as the
    // TextOpsShimSpec equivalence baseline
    val pairs = org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.CharNgrams(
        org.apache.spark.sql.graftshim.ColumnShim.expression(col("word")), 2))
    words
      .select(col("__wc"), explode(pairs).as("pair"))
      .groupBy(col("pair")).agg(sum(col("__wc")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(k)
  }

  /** One learned BPE merge: rank order, the two merged symbols, and the
    * pair's corpus-weighted occurrence count when it won its round. */
  final case class BpeMerge(rank: Int, symA: String, symB: String,
                            nOccurrences: Long)

  /** Word → initial symbol array (one per character); empty word → empty
    * array. Codegen'd (graftshim.CharNgrams at n = 1, r22); the HOF
    * form is kept below as the TextOpsShimSpec equivalence baseline. */
  private def charSyms(word: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.CharNgrams(
        org.apache.spark.sql.graftshim.ColumnShim.expression(word), 1))

  /** The pre-r22 interpreted form of [[charSyms]] (the `sequence` guard
    * — Spark's sequence counts DOWN on a non-positive bound, unlike
    * DuckDB's empty `range`). Equivalence baseline for TextOpsShimSpec. */
  private[graft] def charSymsHof(word: Column): Column =
    when(length(word) >= 1,
      transform(sequence(lit(1), length(word)), i => word.substr(i, lit(1))))
      .otherwise(lit(Array.empty[String]).cast(ArrayType(StringType)))

  /** Greedy left-to-right non-overlapping application of a RANK-ORDERED
    * merge list to a symbol array — the textbook BPE apply step: for
    * each merge (a, b) in order, the current symbol merges into the
    * running tail exactly when tail == a and current == b (a
    * freshly-merged "ab" tail never re-matches a, giving the
    * non-overlap rule: 5×"a" under (a,a) → [aa, aa, a]). Codegen'd as
    * ONE expression over the whole list (graftshim.BpeApplyMerges,
    * r22) — the pre-r22 form nested one interpreted ~20-node
    * `aggregate` fold per merge, so plan depth, task-closure bytes and
    * lambda-interpreter walks all scaled with the merge list. DuckDB
    * replays the identical fold via `list_reduce` over space-prefixed
    * symbols. */
  private def applyMerges(syms: Column, ms: Seq[(String, String)]): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.BpeApplyMerges(
        org.apache.spark.sql.graftshim.ColumnShim.expression(syms), ms))

  /** The pre-r22 single-merge interpreted fold — the TextOpsShimSpec
    * equivalence baseline for [[applyMerges]] (fold the list with this
    * to replay the nested form). */
  private[graft] def applyMergeColHof(syms: Column, a: String, b: String): Column =
    aggregate(syms, typedlit(Seq.empty[String]), (acc, s) =>
      when(size(acc) > 0 && element_at(acc, -1) === a && s === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(s))))

  /** (a, b, wc-weighted pair rows) from a (syms, __wc) vocabulary.
    * Adjacent-pair extraction is codegen'd (graftshim.AdjacentPairs,
    * r22); [[adjacentPairsHof]] keeps the interpreted lattice as the
    * equivalence baseline. */
  private def vocabPairs(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(col("__wc"), explode(
        org.apache.spark.sql.graftshim.ColumnShim.column(
          org.apache.spark.sql.graftshim.AdjacentPairs(
            org.apache.spark.sql.graftshim.ColumnShim.expression(col("syms")))))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("__wc")).as("c"))

  /** The pre-r22 interpreted adjacent-pair lattice (equivalence
    * baseline for graftshim.AdjacentPairs in TextOpsShimSpec). */
  private[graft] def adjacentPairsHof(syms: Column): Column =
    transform(sequence(lit(1), size(syms) - 1), i =>
      struct(element_at(syms, i).as("a"),
        element_at(syms, i + lit(1)).as("b")))

  /**
   * BPE tokenizer TRAINING — the iterated loop [[bpeMergeCandidates]] is
   * one round of: count adjacent symbol pairs (corpus-weighted), merge
   * the most frequent pair everywhere, repeat `nMerges` times. The same
   * driver-loop-over-a-distributed-step discipline as the Lloyd
   * codebooks: the corpus collapses ONCE to the (word, count) vocabulary
   * (the only corpus-scale shuffle — BPE trainers run on word-count
   * tables, which is what makes iterated training tractable at 100 TB);
   * each round is then one small distributed pair aggregation over the
   * vocabulary, ONE top-1 collect (count DESC, then (a, b) lexicographic
   * — the engine-deterministic tie), and a map-side merge application.
   * The evolving vocabulary is re-persisted per round (it is tiny) so
   * round t+1 never recomputes rounds 1..t.
   *
   * Fully deterministic and oracle-replayable: the registered
   * `bpe_vocab` oracle unrolls the same rounds as DuckDB CTEs
   * ([[graft.queries.DataPipelineQueries.bpeVocabOracle]]). A corpus
   * that runs out of adjacent pairs stops early and returns the shorter
   * merge list; the oracle rounds degrade identically (an empty winner
   * passes the vocabulary through unchanged).
   *
   * @param sharedVocab a caller-memoized (word, __wc) word-count frame
   *                    (the corpus's ONE tokenize shuffle, shared with
   *                    [[bpeSymbolCounts]]/[[bpeDictionary]])
   * @param minWordCount frequency floor on the TRAINING vocabulary —
   *                    the standard web-scale BPE lever: a 100 TB corpus
   *                    has billions of distinct "words" (typos, URLs,
   *                    ids) whose singleton counts cannot move any merge
   *                    decision yet dominate the per-round fold; real
   *                    trainers threshold them away. Default 1 = no
   *                    pruning (the registered/oracle-replayed form —
   *                    a non-default floor must be mirrored with
   *                    `WHERE wc >= minWordCount` in the oracle CTEs)
   * @param batch admit up to this many merges per driver round (default
   *                    1 = one collect per merge, the r14 shape). The
   *                    batched trainer is PROVABLY merge-for-merge
   *                    identical to batch=1 — see [[admitBatch]] for the
   *                    admission rule and its equivalence argument — so
   *                    the sequential-unrolled oracle CTEs replay ANY
   *                    batch setting; batching only changes how many
   *                    serialized driver actions a vocabulary costs
   *                    (a real 32k-merge vocabulary stops being 32k
   *                    round-trips). Equivalence is additionally
   *                    fuzz-pinned batch∈{2,4,8} in KnobFuzzSpec and
   *                    hand-traced in TextAnalysisSpec.
   * @param incremental maintain the pair-count table as persisted state
   *                    updated by affected-slice deltas instead of
   *                    recounting the vocabulary each round
   *                    ([[bpeTrainIncremental]] — window-identical, so
   *                    the merge list and the oracle are unchanged);
   *                    pays off when rounds greatly outnumber the
   *                    affected-word fraction (deep merge lists)
   */
  def bpeTrain(docs: DataFrame, nMerges: Int = 8,
               sharedVocab: Option[DataFrame] = None,
               minWordCount: Long = 1L,
               batch: Int = 1,
               incremental: Boolean = false): Seq[BpeMerge] = {
    require(batch >= 1, s"batch must be >= 1, got $batch")
    if (incremental)
      return bpeTrainIncremental(docs, nMerges, sharedVocab, minWordCount,
        batch)
    // Cache discipline, two requirements in tension:
    //  1. LINEAGE must be cut periodically — under plain persist the
    //     logical plan keeps every prior round's fold, and a 64+-round
    //     run OOMs the DRIVER on plan-tree STRING rendering alone
    //     (SQLExecution stringifies the plan for every action) long
    //     before the data costs anything.
    //  2. Cached copies must be RELEASED explicitly — localCheckpoint
    //     RDDs are only reclaimed by the ContextCleaner after driver GC,
    //     so checkpointing EVERY round would strand one MEMORY_AND_DISK
    //     vocabulary copy per round on a mostly-idle driver heap
    //     (thousands, at the 32k-merge scale batching exists for).
    // Resolution: persist each round (retired one round late by the
    // explicit unpersist — the Lloyd discipline, ≤ 2 live copies), and
    // every `cutEveryFolds` APPLIED MERGES localCheckpoint INSTEAD —
    // plan depth stays ≤ cutEveryFolds folds, and stranded checkpoint
    // copies are bounded at merges/cutEveryFolds tiny frames (unpersist
    // on them is a harmless no-op; the ContextCleaner reclaims them). A
    // run on preemptible executors should swap the localCheckpoint for
    // reliable checkpoint() — the lost-executor caveat costs a restart.
    // Cut pacing counts FOLDS APPLIED, not rounds: each applied merge
    // nests one ~20-node `aggregate` expression in the symbol column,
    // and the serialized task recurses per node at DEserialization —
    // 16 uncut rounds at batch=64 was a ~20k-deep object graph and a
    // task-deserializer StackOverflowError (found live on the
    // heterogeneous ladder, where wide windows admit ~10 merges/round).
    // 64 folds ≈ 1.3k-deep — comfortably inside the thread stack.
    val cutEveryFolds = 64
    var foldsSinceCut = 0
    var vocab = sharedVocab.getOrElse(wordCounts(docs))
      .filter(col("__wc") >= minWordCount)
      .select(charSyms(col("word")).as("syms"), col("__wc"))
      .localCheckpoint(false)
    var prev: Option[DataFrame] = None
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    try {
      while (merges.size < nMerges) {
        val want = math.min(batch, nMerges - merges.size)
        val window = vocabPairs(vocab)
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(want + 1)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        prev.foreach(_.unpersist())
        prev = Some(vocab)
        if (window.isEmpty) return merges.toSeq
        val keep = admitBatch(window.toSeq, want,
          merges.iterator.map(m => m.symA + m.symB).toSet)
        keep.foreach { case (a, b, c) =>
          merges += BpeMerge(merges.size + 1, a, b, c)
        }
        // ONE map-side pass applies the whole batch: a single codegen'd
        // expression over the rank-ordered batch — no action, no
        // shuffle, no extra round-trip per merge
        val folded = vocab.select(
          applyMerges(col("syms"), keep.map(m => (m._1, m._2))).as("syms"),
          col("__wc"))
        foldsSinceCut += keep.size
        vocab =
          if (foldsSinceCut >= cutEveryFolds) {
            foldsSinceCut = 0
            // eager, like the incremental loop's cuts: a lazy cut's
            // truncation may never land under AQE stage-level jobs and
            // the closure then grows ~800 bytes per applied merge
            folded.localCheckpoint(true)
          } else folded
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
      merges.toSeq
    } finally {
      prev.foreach(_.unpersist())
      vocab.unpersist()
    }
  }

  /**
   * INCREMENTAL-pair-count BPE training — the r15 "known next lever":
   * the batched trainer still RECOUNTS every adjacent pair of every
   * vocabulary word each round, so the per-round cost is one full
   * vocabulary explode+shuffle even when the round merges one rare
   * pair. This variant maintains the pair-count table as persisted
   * STATE and updates it by delta:
   *
   *   - the ranked window comes from the standing pair table `P`
   *     directly (a map-side top-k scan — no explode, no shuffle);
   *   - a merge (a, b) changes a word's pair multiset ONLY if the word
   *     contains the (a, b) adjacency (rule-2 disjointness extends
   *     this to a whole admitted batch: admitted pairs are
   *     symbol-disjoint and never concat-named, so no admitted merge
   *     creates or destroys another's adjacencies), so the delta is
   *     pairs(affected words, after) − pairs(affected words, before) —
   *     the EXPLODE touches only the affected slice;
   *   - `P' = P ⊎ delta` by one full-outer join on (a, b) — a
   *     pair-table-sized shuffle, which is the point: |P| rows move
   *     instead of the vocabulary EXPLODING (the recount pays one
   *     explode of every adjacent pair of every word per round, plus
   *     the same-sized shuffle); counts are exact integers, so `P'`
   *     equals the full
   *     recount BIT-FOR-BIT and the window — hence the merge list,
   *     hence the sequential-unrolled oracle — is unchanged
   *     (fuzz-pinned against the plain-Scala trainer in KnobFuzzSpec).
   *
   * Cache retirement is DELAYED relative to [[bpeTrain]]'s one-round
   * lag: in incremental mode nothing materializes the new vocabulary
   * until the NEXT round's delta scans it, so `vocab` retires two
   * rounds late and `P` one round late (≤ 3 live vocabulary-sized
   * frames, all tiny); lineage cuts EVERY round with the stranded
   * copies released explicitly ([[freeCheckpoint]] — see the in-body
   * note for the three live-measured pathologies that force this
   * exact discipline). Crossover: at the registered sf0.01
   * point (8 merges, clean windows) the standing-state overhead costs
   * more than it saves — the registered `bpe_vocab` stays on the
   * recount path; the win is measured on the heterogeneous ladder
   * (BASELINE.md r16 "BPE heterogeneous-corpus batching"), where it
   * tracks VOCABULARY size: the larger the vocabulary relative to the
   * affected slice, the more the skipped explode+shuffle is worth.
   */
  private def bpeTrainIncremental(docs: DataFrame, nMerges: Int,
                                  sharedVocab: Option[DataFrame],
                                  minWordCount: Long,
                                  batch: Int): Seq[BpeMerge] = {
    // Constraint propagation MUST be off for the loop's lifetime: a
    // checkpoint's LogicalRDD CARRIES the source dataset's constraint
    // set (LogicalRDD.fromDataset), so each round's filter(!adj) — a
    // batch-sized predicate with two array/map literals — would
    // COMPOUND through every subsequent checkpoint: task binaries grew
    // ~10 KB/round to 3.5 MiB and round ~75 died of a
    // StackOverflowError deserializing the nested constraint
    // expressions (found live on the 1M hetero rung). Constraints only
    // enable extra optimizer inferences; none applies to this loop's
    // plans. Session-scoped set/restore — callers in the concurrent
    // regime run their own sessions.
    val sess = docs.sparkSession
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val cpPrev = sess.conf.getOption(cpKey)
    sess.conf.set(cpKey, "false")
    try bpeTrainIncrementalBody(docs, nMerges, sharedVocab, minWordCount,
      batch)
    finally cpPrev match {
      case Some(v) => sess.conf.set(cpKey, v)
      case None => sess.conf.unset(cpKey)
    }
  }

  private def bpeTrainIncrementalBody(docs: DataFrame, nMerges: Int,
                                      sharedVocab: Option[DataFrame],
                                      minWordCount: Long,
                                      batch: Int): Seq[BpeMerge] = {
    // Incremental state discipline — three pathologies, each found
    // LIVE on the hetero ladder, shape the design:
    //   1. the per-round vocabulary filter(!adj) ∪ folded(affected)
    //      references the previous vocabulary twice, so an uncut plan
    //      grows EXPONENTIALLY (2^16-node plans by round 16) and the
    //      union SUMS partition counts (a 110k-empty-task stage by
    //      round 13) → localCheckpoint EVERY round + coalesce back to
    //      the input width;
    //   2. Dataset.unpersist is a CacheManager NO-OP on checkpointed
    //      frames, so per-round checkpoints stranded one vocab+pairs
    //      copy per round and the per-round cost GREW 0.48→0.85 s
    //      across 93 rounds → [[freeCheckpoint]] releases the
    //      materialized LogicalRDD blocks explicitly through the
    //      retirement queues;
    //   3. folding the WHOLE vocabulary instead (the recount loop's
    //      update, to dodge 1+2) keeps per-round cost ∝ vocabulary —
    //      measured 3.3 vs the recount's 2.8 s/round at 633k words,
    //      i.e. no crossover EVER, because the explode saved is then
    //      the only difference and the fixed extra stages eat it.
    var vocab = sharedVocab.getOrElse(wordCounts(docs))
      .filter(col("__wc") >= minWordCount)
      .select(charSyms(col("word")).as("syms"), col("__wc"))
      .localCheckpoint(false)
    val nPart = math.max(vocab.rdd.getNumPartitions, 1)
    var pairs = vocabPairs(vocab).localCheckpoint(false)
    // retirement queues: release vocab two rounds late, pairs one
    // round late (see scaladoc — lazy materialization cascades through
    // the window collects)
    val oldV = scala.collection.mutable.Queue.empty[DataFrame]
    val oldP = scala.collection.mutable.Queue.empty[DataFrame]
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    try {
      while (merges.size < nMerges) {
        val want = math.min(batch, nMerges - merges.size)
        val window = pairs
          .orderBy(col("c").desc, col("a"), col("b"))
          .limit(want + 1)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        while (oldV.size > 1) freeCheckpoint(oldV.dequeue())
        while (oldP.nonEmpty) freeCheckpoint(oldP.dequeue())
        if (window.isEmpty) return merges.toSeq
        val keep = admitBatch(window.toSeq, want,
          merges.iterator.map(m => m.symA + m.symB).toSet)
        keep.foreach { case (a, b, c) =>
          merges += BpeMerge(merges.size + 1, a, b, c)
        }
        // affected-word predicate, fully codegen'd (r22,
        // graftshim.AdjacentPairInSet): one linear probe over the
        // word's adjacencies against the admitted batch — the pre-r22
        // form needed an arrays_overlap prune in front of an
        // interpreted `exists` lambda plus a coalesce for its
        // three-valued logic; the native predicate is non-null by
        // construction (no match → false, exactly what the
        // coalesce-to-false gave)
        val adj = org.apache.spark.sql.graftshim.ColumnShim.column(
          org.apache.spark.sql.graftshim.AdjacentPairInSet(
            org.apache.spark.sql.graftshim.ColumnShim.expression(col("syms")),
            keep.map(m => (m._1, m._2))))
        val affected = vocab.filter(adj)
        val foldedAff = affected.select(
          applyMerges(col("syms"), keep.map(m => (m._1, m._2))).as("syms"),
          col("__wc"))
        val delta = vocabPairs(foldedAff)
          .union(vocabPairs(affected)
            .select(col("a"), col("b"), (-col("c")).as("c")))
          .groupBy(col("a"), col("b")).agg(sum(col("c")).as("__dc"))
        val mergedP = pairs
          .join(delta, Seq("a", "b"), "full_outer")
          .select(col("a"), col("b"),
            (coalesce(col("c"), lit(0L)) + coalesce(col("__dc"), lit(0L)))
              .as("c"))
          .filter(col("c") > 0)
        // vocabulary update ∝ the AFFECTED slice: unaffected words pass
        // through the filter untouched (no fold evaluated on them)
        val newVocab = vocab.filter(!adj).union(foldedAff).coalesce(nPart)
        oldV.enqueue(vocab)
        oldP.enqueue(pairs)
        // EAGER checkpoints, deliberately: a lazy localCheckpoint's
        // lineage truncation does not land in time under AQE's
        // stage-level job submission, and the untruncated chains
        // compounded into task closures at ~800 bytes per APPLIED MERGE
        // (probe-measured: 0.4 → 1.8 MB over 40 rounds; a 4 MB closure
        // of nested expression collections then dies of a
        // task-deserializer StackOverflowError — the 1M-fixture crash).
        // Eager materialize-and-truncate holds the closure flat at
        // ~11 KB for both frames, measured over the same 40 rounds.
        vocab = newVocab.localCheckpoint(true)
        pairs = mergedP.localCheckpoint(true)
      }
      merges.toSeq
    } finally {
      (oldV ++ oldP).foreach(freeCheckpoint)
      freeCheckpoint(vocab)
      freeCheckpoint(pairs)
    }
  }

  /** Explicitly release a localCheckpointed frame's materialized
    * blocks. `Dataset.unpersist` routes through the CacheManager and is
    * a NO-OP on checkpointed frames (their storage hangs off the
    * LogicalRDD's RDD, not a cache entry) — relying on it stranded one
    * vocabulary copy per training round until driver GC (measured as a
    * 0.48→0.85 s/round cost creep across 93 rounds on the hetero
    * ladder). Callers must guarantee every consumer of the frame has
    * already MATERIALIZED (a checkpointed RDD cannot recompute its
    * blocks — lineage was truncated), which is exactly what the
    * delayed retirement queues in [[bpeTrainIncremental]] provide. */
  private def freeCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(false)
      case _ => df.unpersist()
    }

  /**
   * Batched-round admission: from one ranked pair window (count DESC,
   * then (a, b) — the engine-deterministic tie), the maximal set of
   * merges PROVABLY equal to what `batch=1` would pick in as many
   * sequential recount rounds. Three rules:
   *
   *  1. PREFIX, not skip-and-continue: walk the ranked window admitting
   *     pairs until the first CONFLICT — a pair sharing a symbol with,
   *     or naming the concatenation of, an already-admitted pair — and
   *     stop there (a skipped conflicting pair's count can survive the
   *     earlier merges and win the next sequential round, so nothing
   *     ranked past it may be taken).
   *  2. Disjointness: an admitted pair's count is INVARIANT under every
   *     earlier admitted merge — a merge only destroys adjacencies
   *     touching its own symbols and only creates adjacencies touching
   *     its new concatenated symbol, both excluded by rule 1's check —
   *     so each admitted pair is exactly what round t's recount would
   *     return, winning count included.
   *  3. Strict tie guard: every NEW pair a batch merge creates is
   *     bounded by the count of some CONFLICTING pair (an (x, a·b)
   *     adjacency can only arise where an (x, a) adjacency stood), and
   *     the stopping row carries the maximum conflicting count `c_stop`
   *     (the window is rank-ordered; the (B+1)-th row stands in for the
   *     unseen tail when no in-window conflict fired). A new pair tied
   *     with a later admitted pair could win its sequential round on the
   *     lexicographic tie — e.g. corpus {5×"a z y", 5×"c d"}: after
   *     (a,z), the NEW ("az", y) ties (c,d) at 5 and sorts first — so
   *     the admitted TAIL is trimmed to counts STRICTLY above c_stop
   *     (the head is the round-1 winner unconditionally).
   *  4. Concat-collision truncation: rule 3's ≤ c_stop bound on created
   *     pairs assumes the merged symbol a·b is FRESH. When the same
   *     symbol string has two merge derivations (base symbols are single
   *     chars, so every multi-char symbol is some prior merge's
   *     concatenation — e.g. "aba" via (a,ba) and via (ab,a)), a kept
   *     merge whose concatenation equals an ALREADY-EXISTING symbol
   *     AUGMENTS a pre-existing pair (x, a·b): post-count = pre-count
   *     (≤ c_stop — a pair naming the concat ranked above the stop would
   *     itself have been the rule-1 stop) + created occurrences
   *     (≤ c_stop), up to 2·c_stop — enough to overtake a kept tail pair
   *     with count in (c_stop, 2·c_stop] in its sequential round. So the
   *     kept list is cut immediately AFTER the first pair whose
   *     concatenation is in `priorConcats` (symbols from earlier rounds)
   *     or equals an earlier kept pair's concatenation in this batch
   *     (the fold creates that symbol mid-batch). The colliding pair
   *     itself is safe — its own round's challengers were created by
   *     earlier kept merges only, all fresh-symbol (it is the FIRST
   *     collision), hence ≤ c_stop < its count.
   *
   * Net: ≥1 merge per round always (the conflict-density fallback to
   * B=1 the r14 verdict asked for), up to `want` when the ranked head
   * is clean, and the merge list is bit-identical to sequential
   * training — which is what keeps the sequential-unrolled DuckDB
   * oracle valid for every batch setting.
   *
   * @param priorConcats concatenated symbols of every merge admitted in
   *        EARLIER rounds of this training run — the complete multi-char
   *        symbol alphabet the current vocabulary can contain
   */
  private[graft] def admitBatch(window: Seq[(String, String, Long)],
                               want: Int,
                               priorConcats: Set[String] = Set.empty)
      : Seq[(String, String, Long)] = {
    val admitted = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var cStop = Long.MinValue
    var stopped = false
    window.zipWithIndex.foreach { case ((a, b, c), i) =>
      if (!stopped) {
        val conflict = i >= want || admitted.exists { case (pa, pb, _) =>
          a == pa || a == pb || b == pa || b == pb ||
            a == pa + pb || b == pa + pb
        }
        if (conflict) { cStop = c; stopped = true }
        else admitted += ((a, b, c))
      }
    }
    if (admitted.isEmpty) Seq.empty
    else {
      val kept = admitted.head +: admitted.tail.takeWhile(_._3 > cStop)
      // rule 4: cut right after the first concat collision
      val alpha = scala.collection.mutable.Set.empty[String] ++= priorConcats
      var cut = kept.size
      var i = 0
      while (i < kept.size && cut == kept.size) {
        val concat = kept(i)._1 + kept(i)._2
        if (alpha.contains(concat)) cut = i + 1 else alpha += concat
        i += 1
      }
      kept.take(cut).toSeq
    }
  }

  /** The corpus (word, __wc) word-count vocabulary — the BPE family's
    * ONE corpus-scale tokenize+shuffle, shared by [[bpeTrain]],
    * [[bpeDictionary]] and [[bpeSymbolCounts]] (the registry memoizes a
    * single persisted copy per session — the docTokenCounts discipline). */
  def wordCounts(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("__wc"))

  /** The (word, syms) ENCODING DICTIONARY under a learned merge list:
    * every distinct corpus word mapped to its symbol sequence after
    * applying the merges in rank order. This is how trained-vocab
    * tokenization scales: the corpus is never re-folded per occurrence —
    * downstream consumers BROADCAST-join this vocabulary-sized table
    * ([[bpeEncode]]). */
  def bpeDictionary(docs: DataFrame, merges: Seq[BpeMerge],
                    sharedVocab: Option[DataFrame] = None): DataFrame = {
    val words = sharedVocab.getOrElse(wordCounts(docs)).select(col("word"))
    words.select(col("word"),
      applyMerges(charSyms(col("word")),
        merges.sortBy(_.rank).map(m => (m.symA, m.symB))).as("syms"))
  }

  /**
   * Tokenize-with-learned-merges — downstream token counting under the
   * TRAINED vocab: each document's words explode and equi-join the
   * broadcast [[bpeDictionary]] (vocabulary-sized — the corpus itself is
   * never re-folded), then per-symbol positions explode from the
   * dictionary's symbol arrays. Output one row per (doc_id, sym
   * occurrence) — the occurrence-grain frame every token-count consumer
   * aggregates from, now on the learned subword grain.
   */
  def bpeEncode(docs: DataFrame, dict: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .join(broadcast(dict), Seq("word"))
      .select(col("doc_id"), explode(col("syms")).as("sym"))

  /** Per-document token counts under a learned merge list — the
    * downstream budget number (sequence packing, length gates, cost
    * estimates) re-based onto the TRAINED subword vocabulary: each
    * document's words equi-join the broadcast dictionary and the count
    * is Σ |syms(word)|. A document whose every word is empty counts 0
    * (it still emits a row — the budget consumer needs the zero). */
  def bpeTokenCounts(docs: DataFrame, dict: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .join(broadcast(dict), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(size(col("syms"))).as("n_subword_tokens"))

  /**
   * Tokenizer FERTILITY under a learned vocabulary — the per-source
   * numbers a pipeline reads to judge a tokenizer against a corpus
   * before committing to it: characters per subword token (compression
   * — how much text each token carries) and subword tokens per word
   * (fertility proper — how many pieces the tokenizer shreds a word
   * into; high fertility on a source means the vocabulary was trained
   * on different text and every downstream token budget inflates).
   *
   * Scale shape: per-doc subword counts come from the broadcast
   * dictionary join ([[bpeTokenCounts]] — the corpus is never
   * re-folded), the char/word sides are per-row projections, and the
   * rollup is one |sources|-key aggregation. Ratios quantized to the
   * µ-int grid (ratios of integer sums — the robust-z half-tie rule),
   * NULL for a source with zero subword tokens.
   */
  def bpeFertility(docs: DataFrame, dict: DataFrame): DataFrame = {
    // ONE tokenize pass: subword and word counts both come from the same
    // explode + broadcast-dictionary join (every corpus word is in the
    // dictionary, so count(*) at doc grain IS the word count — a second
    // size(tokens) projection would re-split every document)
    val perDoc = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("word"))
      .join(broadcast(dict), Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(size(col("syms"))).as("n_subword_tokens"),
        count(lit(1)).as("__nw"))
    def grid(x: Column): Column = floor(x * 1e6 + 0.5) / 1e6
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(perDoc, Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_subword_tokens")).as("n_subword_tokens"),
        when(sum(col("n_subword_tokens")) > 0,
          grid(sum(col("n_chars")).cast("double")
            / sum(col("n_subword_tokens")))).as("chars_per_token"),
        when(sum(col("__nw")) > 0,
          grid(sum(col("n_subword_tokens")).cast("double")
            / sum(col("__nw")))).as("tokens_per_word"))
  }

  /** Corpus-total symbol counts under a learned merge list — the rollup
    * form of [[bpeEncode]]: totals aggregate at VOCABULARY grain
    * (Σ_word wc · occurrences-of-sym-in-word), so after the one
    * word-count shuffle everything is vocabulary-sized — the corpus is
    * never re-tokenized per symbol. Value-identical to rolling up
    * [[bpeEncode]]'s doc-grain rows. */
  def bpeSymbolCounts(docs: DataFrame, merges: Seq[BpeMerge],
                      sharedVocab: Option[DataFrame] = None): DataFrame = {
    val words = sharedVocab.getOrElse(wordCounts(docs))
    val encoded = words.select(
      applyMerges(charSyms(col("word")),
        merges.sortBy(_.rank).map(m => (m.symA, m.symB))).as("syms"),
      col("__wc"))
    encoded
      .select(explode(col("syms")).as("sym"), col("__wc"))
      .groupBy(col("sym"))
      .agg(sum(col("__wc")).as("n_occurrences"))
  }

  /**
   * Deterministic stratified sampling — the data-mixing primitive: keep
   * each document with a per-language rate, decided by a salted content
   * hash instead of an RNG so the sample is reproducible run-over-run,
   * engine-over-engine, and under retries (the properties a training-mix
   * recipe must have; same hash-threshold idiom as [[hashSplit]]).
   * Rates are expressed as 4-hex-digit thresholds (granularity 1/65536):
   * '8000' ≈ 50%, '4000' ≈ 25%, '1999' ≈ 10%. Content-keyed, so exact
   * duplicates sample identically. Pure per-row filter; no shuffle.
   */
  def stratifiedSample(docs: DataFrame,
                       thresholds: Seq[(String, String)] =
                         Seq("en" -> "8000", "de" -> "4000"),
                       defaultThreshold: String = "1999",
                       salt: String = "sample"): DataFrame = {
    val h4 = substring(md5(concat(lit(salt + ":"), col("text"))), 1, 4)
    val thr = thresholds.foldRight(lit(defaultThreshold)) { case ((l, t), alt) =>
      when(col("lang") === l, lit(t)).otherwise(alt)
    }
    // project the key before filtering: Filter and Project are separate
    // operators with no cross-operator subexpression sharing, so a filter
    // on the raw hash expression would md5 the document twice
    docs.select(col("doc_id"), col("lang"), h4.as("sample_key"), thr.as("__thr"))
      .filter(col("sample_key") < col("__thr"))
      .drop("__thr")
  }

  /**
   * Uniform source rebalancing — the domain-mixing primitive: every
   * source contributes exactly `floor(min(source count) · fraction)`
   * documents (≥ 1), chosen as the lowest salted-content-hash ranks
   * within the source. Hash-rank
   * selection is a uniform sample without replacement that is
   * reproducible run-over-run and engine-over-engine (no RNG), and
   * content-keyed so exact duplicates rank together. Weighted mixes
   * generalize by swapping the per-source quota; the operator shape is
   * unchanged.
   *
   * Scale shape: one tiny per-source count (collapses to #sources rows;
   * its min folds into the plan as a driver literal — same idiom as
   * [[unigramLogProb]]'s total), then ONE shuffle by source and a
   * per-partition sort for `row_number`. Exact quotas cost that sort;
   * when approximate quotas suffice, [[stratifiedSample]]'s O(1)-per-row
   * threshold filter is the cheaper path. A skewed giant source sorts in
   * one task chain — at real scale swap in a rank-filter via
   * `approx_quantile` of the hash, or salt the window key.
   */
  /** Smallest per-source row count — the quota anchor both source-mix
    * variants fold into their plans as a driver literal. 0 ⟺ empty
    * corpus (a groupBy count is never 0 for an existing group). One tiny
    * job; registry callers memoize it per (session, corpus). */
  def minSourceCount(docs: DataFrame): Long = {
    val minRow = docs.groupBy(col("source")).agg(count(lit(1)).as("__n"))
      .agg(min(col("__n"))).first()
    if (minRow.isNullAt(0)) 0L else minRow.getLong(0)
  }

  def uniformSourceMix(docs: DataFrame, fraction: Double = 1.0,
                       salt: String = "mix",
                       sharedMinN: Option[Long] = None): DataFrame = {
    // min over zero groups is a single null row — an empty corpus must
    // yield an empty frame, not an NPE (the quota is irrelevant: no rows
    // reach the filter). sharedMinN lets a caller that already knows the
    // smallest source's count (the registry memoizes it per corpus —
    // uniform and temperature mixes probe the SAME scalar) skip the job.
    val minN = sharedMinN.getOrElse(minSourceCount(docs))
    val quota = math.max(1L, math.floor(minN * fraction).toLong)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("mix_key"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        md5(concat(lit(salt + ":"), col("text"))).as("mix_key"))
      .withColumn("mix_rank", row_number().over(w))
      .filter(col("mix_rank") <= quota)
  }

  /**
   * Temperature-scaled source mix — the `p^α` sampling rule used to
   * balance multilingual / multi-source training mixes: each source's
   * quota is the geometric interpolation `n_s^α · n_min^(1-α)` between
   * uniform (α=0 ⇒ every source at the smallest source's count — exactly
   * [[uniformSourceMix]]) and natural (α=1 ⇒ keep everything), scaled by
   * an overall downsample `fraction`. The interpolation never exceeds
   * n_s, so it is realizable without replacement (fraction ≤ 1 keeps it
   * so). Selection within a source is the same deterministic
   * content-keyed md5 rank as [[uniformSourceMix]] (its own salt).
   *
   * Scale shape: per-source counts collapse to #sources rows; the global
   * n_min folds into the plan as a driver literal; quotas stay a
   * DISTRIBUTED #sources-row frame broadcast back onto the ranked corpus
   * (sources can number in the millions of domains — only the single
   * min is ever driver-side). Then ONE shuffle by source for the rank
   * window, same as the uniform mix. The `round(·, 6)` before `floor`
   * pins the IEEE `pow` product to a value both engines agree on.
   */
  def temperatureSourceMix(docs: DataFrame, alpha: Double = 0.5,
                           fraction: Double = 1.0,
                           salt: String = "tmix",
                           sharedMinN: Option[Long] = None): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha must be in [0,1], got $alpha")
    require(fraction > 0.0 && fraction <= 1.0,
      s"fraction must be in (0,1], got $fraction")
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("__n"))
    val minN = sharedMinN.getOrElse(minSourceCount(docs))
    if (minN == 0L)
      return docs.select(col("doc_id"), col("source"),
        lit("").as("mix_key"), lit(0).as("mix_rank"), lit(0L).as("quota"))
        .filter(lit(false))
    val quotas = counts.select(col("source"),
      greatest(lit(1L),
        floor(round(pow(col("__n"), alpha) * math.pow(minN.toDouble, 1 - alpha)
          * fraction, 6))).as("quota"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("mix_key"), col("doc_id"))
    docs
      .select(col("doc_id"), col("source"),
        md5(concat(lit(salt + ":"), col("text"))).as("mix_key"))
      .withColumn("mix_rank", row_number().over(w))
      .join(broadcast(quotas), "source")
      .filter(col("mix_rank") <= col("quota"))
      .select(col("doc_id"), col("source"), col("mix_key"), col("mix_rank"),
        col("quota"))
  }

  /**
   * Fixed-size token-window chunking — context-length packing's first
   * half: split each document into consecutive `chunkSize`-token chunks
   * (last one short), emitting per chunk its index, token count, and
   * content digest (the digest, not the text — at 100 TB the chunk text
   * stays in the data plane; downstream packing joins back by
   * (doc_id, chunk_no)). Narrow per-row explode, no shuffle.
   *
   * The token array is bound as a lambda variable (`transform` over a
   * single-element array) — the [[winnowingPickArrays]] lesson: a named
   * projection column would be inlined by projection collapse into every
   * slice reference, re-splitting the document O(chunks) times.
   */
  def tokenChunks(docs: DataFrame, chunkSize: Int = 32): DataFrame = {
    // codegen'd chunk lattice (r22, graftshim.TokenChunkStats): one pass
    // over the token array instead of two interpreted lambdas plus two
    // slice copies per chunk; the HOF form is kept as tokenChunksHof
    // for the TextOpsShimSpec equivalence pin
    val chunks = org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.TokenChunkStats(
        org.apache.spark.sql.graftshim.ColumnShim.expression(
          TextOps.tokens(col("text"))), chunkSize))
    // split(text) never yields an empty array for non-null text (minimum
    // [""]), so null-exclusion is the whole row predicate — checking
    // size(tokens) > 0 would tokenize every document a second time
    docs
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(chunks).as("c"))
      .select(col("doc_id"), col("c.chunk_no").as("chunk_no"),
        col("c.n_chunk_tokens").as("n_chunk_tokens"),
        col("c.checksum").as("checksum"))
  }

  /** The pre-r22 interpreted chunk lattice — equivalence baseline for
    * graftshim.TokenChunkStats in TextOpsShimSpec. The token array is
    * bound as a lambda variable (`transform` over a single-element
    * array) so projection collapse can't re-split the document per
    * slice reference. */
  private[graft] def tokenChunksHof(toks: Column, cs: Int): Column =
    element_at(
      transform(array(toks), ts =>
        transform(
          sequence(lit(0), ceil(size(ts).cast("double") / cs).cast("int") - 1),
          i => struct(
            i.as("chunk_no"),
            size(slice(ts, i * cs + 1, lit(cs))).as("n_chunk_tokens"),
            md5(concat_ws(" ", slice(ts, i * cs + 1, lit(cs)))).as("checksum")))), 1)

  private val stopwords = Seq("the", "a", "and", "of", "to", "in", "is")

  /** Mean token length — ONE definition shared by [[stats]] and
    * [[qualityGate]] (the driver hash-compares both against oracles that
    * splice the equivalent shared SQL snippet; divergent copies would
    * silently split the engines). Codegen'd numerator (r21,
    * [[org.apache.spark.sql.graftshim.ArrayCharCount]]): the
    * `aggregate(transform(toks, length), 0, +)` fold was CodegenFallback
    * — two nested interpreted lambdas per document on every gate/stats
    * scan; the replacement sums the same ints in the same order, so the
    * one IEEE division below sees identical operands in both engines. */
  private def meanTokenLen(toks: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.ArrayCharCount(
        org.apache.spark.sql.graftshim.ColumnShim.expression(toks)))
      .cast("double") / size(toks)

  /** Stopword-occurrence ratio — shared by [[stats]] and [[qualityGate]].
    * Codegen'd numerator (r21,
    * [[org.apache.spark.sql.graftshim.ArrayCountIn]]): the
    * `size(filter(toks, t => array_contains(...)))` HOF was
    * CodegenFallback, re-allocating the stopword array per element in
    * interpreted mode; the replacement counts the same exact-equality
    * matches over the same reference word table. */
  private def stopwordRatio(toks: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.ArrayCountIn(
        org.apache.spark.sql.graftshim.ColumnShim.expression(toks), stopwords))
      .cast("double") / size(toks)

  /**
   * Document shape/quality statistics: token counts, type-token ratio
   * inputs, mean token length, stopword ratio, and a BPE-ish regex token
   * count (`[a-z]+|[0-9]+|[^a-z0-9 ]` — letter runs, digit runs, single
   * symbols; the pattern is deliberately restricted to constructs with
   * identical semantics in Java regex and RE2 so the oracle matches).
   */
  def stats(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs.select(
      col("doc_id"),
      length(col("text")).as("n_chars_utf8"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_unique_tokens"),
      round(meanTokenLen(toks), 6).as("mean_token_len"),
      round(stopwordRatio(toks), 6).as("stopword_ratio"),
      round(size(regexp_extract_all(col("text"), lit("[.,;:!?]"), lit(0)))
        .cast("double") / length(col("text")), 6).as("punct_ratio"),
      size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
        .as("n_bpe_tokens"))
  }

  /**
   * Document statistics under the UNICODE tokenizer
   * ([[TextOps.unicodeTokens]]: NFC normalize → casefold → split on
   * non-letter/digit runs → drop empties) — the multi-script sibling of
   * [[stats]], and the receipt that the normalization knob changes the
   * statistics it should: on mixed-script text the default single-space
   * split counts "Москва," and "Москва" as two types and composed vs
   * decomposed accents as different bytes; here both collapse.
   *
   * Columns: NFC character count (canonical length — what a byte/char
   * budget should meter), token/type counts and mean token length over
   * the Unicode tokens, and `latin_ratio` — the fraction of tokens that
   * are pure `[a-z0-9]+` after casefolding, the cheap script-mix signal
   * a routing/curation step keys on. Ratios are NULL for documents with
   * no tokens (all-punctuation text); NULL text propagates NULL stats,
   * same as [[stats]].
   *
   * Scale: pure per-row projection, no shuffle; NFC is a codegen'd
   * expression with an already-normalized fast path, so ASCII corpora
   * pay one vectorized scan. Oracle: nfc_normalize/lower/
   * regexp_split_to_array in DuckDB, with the split class restricted to
   * `[^\p{L}\p{N}]+` — identical semantics in Java regex and RE2.
   */
  /** HOF baseline for the equivalence spec — the interpreted form
    * [[latinCount]] replaces (r22, guide §4.1). */
  private[graft] def latinCountHof(utoks: Column): Column =
    size(filter(utoks, t => t.rlike("^[a-z0-9]+$")))

  /** Codegen'd count of pure-latin tokens (graftshim.ArrayCountMatching;
    * the last interpreted HOF on a registered scan path): same RLIKE
    * semantics, pattern compiled once per plan. */
  private[graft] def latinCount(utoks: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.ArrayCountMatching(
        org.apache.spark.sql.graftshim.ColumnShim.expression(utoks),
        "^[a-z0-9]+$"))

  def unicodeStats(docs: DataFrame): DataFrame = {
    val utoks = TextOps.unicodeTokens(col("text"))
    val latin = latinCount(utoks)
    docs.select(
      col("doc_id"),
      length(TextOps.normalizeNfc(col("text"))).as("n_chars_nfc"),
      size(utoks).as("n_tokens"),
      size(array_distinct(utoks)).as("n_unique_tokens"),
      when(size(utoks) > 0, round(meanTokenLen(utoks), 6))
        .as("mean_token_len"),
      when(size(utoks) > 0, round(latin.cast("double") / size(utoks), 6))
        .as("latin_ratio"))
  }

  /**
   * Unigram log-probability scoring — the perplexity-proxy quality
   * signal (the cheap stand-in for a KenLM filter): each document's mean
   * token log-probability under the corpus's own unigram distribution,
   * plus the corresponding perplexity. Outlier documents (gibberish,
   * wrong-language, boilerplate) sit far from the corpus mode and a
   * curation pipeline drops the tails.
   *
   * Scale shape: the occurrence stream is shuffled ONCE — collapsed to
   * a persisted (doc, token, k) frame whose map-side partial absorbs
   * within-doc repeats (hot tokens never dominate a shuffle key: the
   * key is (doc, token)). The frequency table folds FROM that frame
   * (vocab-sized, orders of magnitude smaller than the corpus), its
   * total lands on the driver as ONE scalar (folded into the plan as a
   * literal: a scalar cross-join would plan as a nested-loop join, the
   * shape the plan guard bans), and the scoring join hits the
   * (doc, token) frame against the vocab-sized model (broadcast when it
   * fits, hash otherwise). The per-occurrence mean is recovered exactly
   * as Σk·lp / Σk. The engines' float sums differ in the last ulp, so
   * both score columns round to 6 dp.
   */
  def unigramLogProb(docs: DataFrame,
                     sharedTf: Option[DataFrame] = None): DataFrame = {
    val perDoc = sharedTf.getOrElse(
      graft.queries.SharedFrames.aux(docTokenCounts(docs)))
    // persisted: consumed by the total-scalar action AND the scoring join
    val freqs = graft.queries.SharedFrames.aux(
      perDoc.groupBy(col("token")).agg(sum(col("__k")).as("__tf")))
    // sum over an empty vocab is a single null row; 1L keeps the plan
    // well-formed and the join below already yields zero rows
    val totalRow = freqs.agg(sum(col("__tf"))).first()
    val total = if (totalRow.isNullAt(0)) 1L else totalRow.getLong(0)
    perDoc
      .join(freqs, "token")
      .select(col("doc_id"), col("__k"),
        log(col("__tf").cast("double") / lit(total).cast("double")).as("__lp"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__k")).as("n_tokens"),
        round(sum(col("__k") * col("__lp")) / sum(col("__k")), 6).as("avg_logprob"),
        round(exp(-sum(col("__k") * col("__lp")) / sum(col("__k"))), 6).as("perplexity"))
  }

  /**
   * Bigram conditional log-probability scoring — the next LM rung above
   * [[unigramLogProb]]: each document's mean `ln P(w₂|w₁)` under the
   * corpus's own MLE bigram model (`c(w₁w₂) / c(w₁·)`), plus perplexity.
   * Scoring the corpus the model was fit on means every bigram has a
   * positive count — no smoothing needed — and documents whose word
   * ORDER is unusual (shuffled text, keyword stuffing) score low even
   * when their unigram profile looks normal.
   *
   * Scale shape: the occurrence stream is shuffled ONCE — collapsed to a
   * persisted (doc, bigram, k) frame whose map-side partial absorbs
   * within-doc repeats. Bigram counts, prefix totals, and the per-bigram
   * conditional log-prob are all folded from that frame and each other
   * (vocab-sized inputs, never a second corpus pass), and the scoring
   * join hits the (doc, bigram) frame against the vocab-sized model
   * (broadcast when it fits). The per-occurrence mean is recovered
   * exactly as Σk·lp / Σk. Documents under 2 tokens have no bigrams and
   * are not emitted.
   */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    // ONE occurrence-grain shuffle: occurrences collapse to (doc, bigram,
    // k) first — map-side partial absorbs within-doc repeats and the
    // explode runs once. The model (per-bigram conditional probability)
    // is then derived from and joined against VOCAB-sized frames only;
    // the per-occurrence avg is recovered exactly as Σk·lp / Σk.
    val perDoc = graft.queries.SharedFrames.aux(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"),
          explode(TextOps.shingles(TextOps.tokens(col("text")), 2)).as("bigram"))
        .groupBy(col("doc_id"), col("bigram"))
        .agg(count(lit(1)).as("__k")))
    val bc = perDoc.groupBy(col("bigram")).agg(sum(col("__k")).as("__bc"))
    val pc = bc
      .groupBy(element_at(split(col("bigram"), " ", 2), 1).as("__pfx"))
      .agg(sum(col("__bc")).as("__pc"))
    val lp = bc
      .withColumn("__pfx", element_at(split(col("bigram"), " ", 2), 1))
      .join(pc, "__pfx")
      .select(col("bigram"),
        log(col("__bc").cast("double") / col("__pc").cast("double")).as("__lp"))
    perDoc
      .join(lp, "bigram")
      .groupBy(col("doc_id"))
      .agg(sum(col("__k")).as("n_bigrams"),
        round(sum(col("__k") * col("__lp")) / sum(col("__k")), 6).as("avg_logprob"),
        round(exp(-sum(col("__k") * col("__lp")) / sum(col("__k"))), 6).as("perplexity"))
  }

  /**
   * Gopher-style repetition battery — the three signals the repetition
   * section of a curation filter reads: duplicate-word fraction
   * (1 − types/tokens), duplicate-bigram fraction, and top-bigram
   * fraction (occurrences of the single most frequent bigram over all
   * bigram occurrences), plus the `repetitive` verdict at the classic
   * 0.18 top-bigram threshold. [[qualityGate]]'s `rep_ratio` is the
   * cheap per-row variant; this is the full per-n-gram histogram.
   *
   * Scale shape: explode to one row per bigram occurrence, then two hash
   * aggregations — (doc, bigram) counts, then per-doc max/sum. Linear in
   * total corpus tokens with map-side partial aggregation, unlike the
   * `transform(distinct, b -> count)` array form which is quadratic in
   * document length and dies on 100k-token documents. Token-level stats
   * ride along as grouping keys (functionally dependent on doc_id — no
   * extra join). `explode_outer` keeps sub-bigram documents alive with a
   * NULL bigram that `count(col)` then ignores.
   */
  def repetitionStats(docs: DataFrame, topBigramMax: Double = 0.18): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    // two-step: scalars in a projection BELOW the Generate. In a single
    // select Catalyst places the non-explode expressions in a Project
    // ABOVE the Generate, re-running split(text) on every exploded bigram
    // row — O(len²) per document
    val occ = docs
      .select(col("doc_id"),
        size(toks).as("n_tokens"),
        size(array_distinct(toks)).as("__nd"),
        TextOps.shingles(toks, 2).as("__bigrams"))
      .select(col("doc_id"), col("n_tokens"), col("__nd"),
        explode_outer(col("__bigrams")).as("__bigram"))
    val perBigram = occ
      .groupBy(col("doc_id"), col("n_tokens"), col("__nd"), col("__bigram"))
      .agg(count(col("__bigram")).as("__c"))
    val topFrac = when(col("__nb") > 0,
      col("__top").cast("double") / col("__nb")).otherwise(0.0)
    perBigram
      .groupBy(col("doc_id"), col("n_tokens"), col("__nd"))
      .agg(sum(col("__c")).as("__nb"),
        max(col("__c")).as("__top"),
        count(when(col("__c") > 0, 1)).as("__ndb"))
      .select(
        col("doc_id"), col("n_tokens"),
        round(lit(1.0) - col("__nd").cast("double") / col("n_tokens"), 6)
          .as("dup_word_frac"),
        round(when(col("__nb") > 0,
          lit(1.0) - col("__ndb").cast("double") / col("__nb")).otherwise(0.0), 6)
          .as("dup_bigram_frac"),
        round(topFrac, 6).as("top_bigram_frac"),
        (topFrac > topBigramMax).as("repetitive"))
  }

  /**
   * Gopher-style quality gate — the rule filter a curation pipeline runs
   * to drop junk before training: per-document shape signals (token
   * count, mean token length, stopword ratio, duplicate-3-gram
   * repetition ratio) each checked against a threshold, with the FIRST
   * failing rule reported as the drop reason ('pass' otherwise, `keep` =
   * no rule failed). Defaults sit inside the driver corpus's observed
   * ranges so both outcomes occur; a real pipeline tunes them per source.
   *
   * Purely narrow per-row expressions — no shuffle, scales by partition
   * count (and therefore runs unchanged on a STREAMING frame — see
   * [[graft.streaming.StreamingCurationJobs]]). Gate comparisons run on
   * the UNROUNDED doubles: both engines compute them from the same
   * integers with correctly-rounded IEEE division, so the decisions are
   * bit-identical; the emitted ratios are rounded to 6 dp for the driver
   * compare.
   *
   * @param passThrough input columns carried into the output verbatim
   *                    (after doc_id) — lets a pipeline keep `text`/
   *                    provenance through the gate without a join back
   */
  def qualityGate(docs: DataFrame,
                  minTokens: Int = 30, maxTokens: Int = 5000,
                  minMeanTokenLen: Double = 2.0, maxMeanTokenLen: Double = 12.0,
                  minStopwordRatio: Double = 0.02,
                  maxRepetitionRatio: Double = 0.05,
                  passThrough: Seq[String] = Nil): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val sh = TextOps.shingles(toks, 3)
    val metered = docs.select(
      col("doc_id") +: passThrough.map(col) :+
      size(toks).as("n_tokens") :+
      meanTokenLen(toks).as("__mtl") :+
      stopwordRatio(toks).as("__stop") :+
      when(size(sh) > 0,
        lit(1.0) - size(array_distinct(sh)).cast("double") / size(sh))
        .otherwise(0.0).as("__rep"): _*)
    val reason = when(col("n_tokens") < minTokens, "too_short")
      .when(col("n_tokens") > maxTokens, "too_long")
      .when(col("__mtl") < minMeanTokenLen || col("__mtl") > maxMeanTokenLen,
        "bad_token_len")
      .when(col("__stop") < minStopwordRatio, "low_stopword")
      .when(col("__rep") > maxRepetitionRatio, "repetitive")
      .otherwise("pass")
    metered.select(
      col("doc_id") +: passThrough.map(col) :+ col("n_tokens") :+
      round(col("__mtl"), 6).as("mean_token_len") :+
      round(col("__stop"), 6).as("stopword_ratio") :+
      round(col("__rep"), 6).as("rep_ratio") :+
      reason.as("reason") :+
      (reason === "pass").as("keep"): _*)
  }

  /**
   * Stopword-overlap language ID. Scores each document against a small
   * marker-word set per language (total occurrences, not distinct) and
   * predicts the highest-scoring language with a fixed precedence order
   * for ties; all-zero scores → 'und'. A real pipeline would swap in
   * fastText or a char-n-gram model — the operator shape (N parallel
   * per-row scores + argmax) is what matters at scale, and it is fully
   * expression-based.
   */
  def langId(docs: DataFrame): DataFrame = {
    val markers: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "and", "of", "to"),
      "de" -> Seq("der", "die", "das", "und", "ist"),
      "fr" -> Seq("le", "la", "et", "les", "des"),
      "es" -> Seq("el", "los", "y", "que", "una"))
    val toks = TextOps.tokens(col("text"))
    val scored = docs.select(
      (col("doc_id") +: markers.map { case (l, ws) =>
        // codegen'd marker count (r22, graftshim.ArrayCountIn — the
        // stopwordRatio replacement): `size(filter(array_contains))`
        // was an interpreted lambda per language per document; NULL
        // text stays NULL through both forms (ANSI size(null))
        org.apache.spark.sql.graftshim.ColumnShim.column(
          org.apache.spark.sql.graftshim.ArrayCountIn(
            org.apache.spark.sql.graftshim.ColumnShim.expression(toks), ws))
          .as(s"score_$l")
      }): _*)
    // argmax with precedence = declaration order (en beats de on ties, ...)
    val langs = markers.map(_._1)
    val best = langs.foldRight(lit("und")) { (l, alt) =>
      val c = col(s"score_$l")
      val beatsAll = langs.filter(_ != l)
        .map(o => c >= col(s"score_$o")).reduce(_ && _)
      when(c > 0 && beatsAll, lit(l)).otherwise(alt)
    }
    scored.select(
      (col("doc_id") +: langs.map(l => col(s"score_$l"))) :+ best.as("predicted_lang"): _*)
  }

  // ================= Trained char-trigram language ID (r20) =============
  //
  // The marker heuristic above stays as the library baseline; the
  // registered lang_id is now a hashed char-TRIGRAM multinomial NB
  // trained on the corpus's own labels under the classifier discipline
  // ([[trainNbWeights]]): bounded md5-ordered sample, integer-exact
  // distributed counting, closed-form µ-int weights, DuckDB CTE replay.
  // Character n-grams are the standard public language-ID feature
  // (fastText / langid.py / Cavnar–Trenkle): scripts and orthography
  // dominate the signal, no tokenizer needed.

  /** The registered language set — the labels present in the corpus;
    * also the tie-precedence order (earlier wins on equal scores). */
  val LangIdLangs: Seq[String] = Seq("en", "de", "fr", "es", "zh")

  /** Shared lang-ID knobs (ADVICE r20 #2): the registered oracles
    * interpolate THESE constants instead of repeating the literals, so
    * a default retune can never silently desync the Spark arm from its
    * DuckDB replay. */
  val LangIdBuckets: Int = 4096
  val LangIdTrainN: Int = 256
  val LangIdSalt: String = "lid"
  /** Default routing gate: 0.5 per-trigram mean log-likelihood gap in
    * µ-units (see [[langIdMargin]]'s calibration note). */
  val LangIdMinMarginMicro: Long = 500000L

  /** Char trigrams of a string, one per position (1-based substr, the
    * same codepoint semantics in Spark and DuckDB); < 3 chars → empty.
    * Codegen'd (r21, [[org.apache.spark.sql.graftshim.CharTrigrams]]):
    * the `transform(sequence(...), i => substr(i, 3))` HOF was the one
    * CodegenFallback left on a registered build path (r20 verdict
    * what's-wrong #2) — an interpreted O(chars) substr scan per element;
    * the expression walks the codepoint offsets once and is
    * value-identical (pinned in TextOpsShimSpec). */
  private def charTrigrams(c: Column): Column =
    org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.CharTrigrams(
        org.apache.spark.sql.graftshim.ColumnShim.expression(c)))

  /** One (doc_id, tri, __k) frame per corpus — the char-grain sibling of
    * [[docTokenCounts]], shared by the language-ID trainer and scorer so
    * the explode runs once. */
  def docTrigramCounts(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(charTrigrams(col("text"))).as("tri"))
      .groupBy(col("doc_id"), col("tri"))
      .agg(count(lit(1)).as("__k"))

  /**
   * Multinomial-NB language-ID fit: per language l and hashed trigram
   * bucket b over the `trainN`-doc md5-ordered labeled sample,
   *
   *   w_lb = floor(1e6 · ln((c_lb + 1) / (T_l + B)) + 0.5)
   *
   * — the add-one-smoothed log-likelihood on the µ-int grid (both ratio
   * operands are exact-integer doubles < 2^53, so the one division and
   * one `ln` see identical IEEE inputs in every engine — the
   * [[trainNbWeights]] argument verbatim). No class prior: the argmax is
   * a likelihood comparison, so an imbalanced corpus can't drag every
   * short document to its majority label (the langid.py convention).
   * Labels come from the corpus's own `lang` column — the production
   * shape where a seed-labeled slice supervises the classifier that then
   * labels the rest.
   *
   * Scale shape: sample select is a TakeOrdered (trainN ids on the
   * driver); counting is the shared trigram frame joined against the
   * BROADCAST sample; the collect is ≤ |langs|·nBuckets rows. Nothing
   * corpus-sized near the driver; the corpus is scanned once.
   */
  def trainLangIdWeights(docs: DataFrame, langs: Seq[String] = LangIdLangs,
                         nBuckets: Int = LangIdBuckets,
                         trainN: Int = LangIdTrainN,
                         salt: String = LangIdSalt,
                         sharedTri: Option[DataFrame] = None)
      : Map[String, Array[Long]] = {
    val lab = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("lang"),
        md5(concat(lit(salt + ":"), col("doc_id").cast("string"))).as("__hk"))
      .orderBy(col("__hk"), col("doc_id"))
      .limit(trainN)
      .select(col("doc_id"), col("lang"))
    val counts = sharedTri.getOrElse(docTrigramCounts(docs))
      .join(broadcast(lab), Seq("doc_id"))
      .withColumn("__b",
        conv(substring(md5(col("tri")), 1, 8), 16, 10).cast("long") % nBuckets)
      .groupBy(col("lang"), col("__b"))
      .agg(sum(col("__k")).as("__c"))
      .collect()
    val perLang = counts.groupBy(_.getString(0))
    langs.map { l =>
      val c = new Array[Long](nBuckets)
      perLang.getOrElse(l, Array.empty)
        .foreach(r => c(r.getLong(1).toInt) = r.getLong(2))
      val t = c.sum
      l -> Array.tabulate(nBuckets) { b =>
        math.floor(1e6 * math.log((c(b) + 1L).toDouble / (t + nBuckets))
          + 0.5).toLong
      }
    }.toMap
  }

  /**
   * Trained language ID — scores every document against each language's
   * broadcast weight table and predicts the argmax: per (doc, lang),
   * S_l = Σ count·w_lb (exact int64), the per-trigram mean
   * m_l = floor(S_l/n + 0.5) back at µ precision (length-invariant, the
   * [[hashedLinearScore]] convention), `score_<l>` = m_l/1e6 and
   * `predicted_lang` = the earliest language (in `langs` order) whose
   * m_l ties the maximum. Documents with no trigram (NULL or < 3 chars)
   * read NULL scores and 'und' — the [[langId]] fallback convention.
   *
   * Scale shape: weight tables fold into the plan as |langs| literal
   * arrays (|langs|·nBuckets longs — the classifier-table size class);
   * scoring is the shared trigram frame's ONE per-doc aggregation; the
   * final left join back to doc ids is id-keyed. Nothing corpus-sized
   * on the driver, no new shuffle grain.
   */
  def langIdTrained(docs: DataFrame, langs: Seq[String] = LangIdLangs,
                    nBuckets: Int = LangIdBuckets, trainN: Int = LangIdTrainN,
                    salt: String = LangIdSalt,
                    sharedTri: Option[DataFrame] = None,
                    weights: Option[Map[String, Array[Long]]] = None)
      : DataFrame = {
    val w = weights.getOrElse(trainLangIdWeights(docs, langs, nBuckets,
      trainN, salt, sharedTri))
    val tri = sharedTri.getOrElse(docTrigramCounts(docs))
      .withColumn("__b",
        conv(substring(md5(col("tri")), 1, 8), 16, 10).cast("long") % nBuckets)
    val sums = langs.map { l =>
      val wcol = element_at(typedlit(w(l).toVector), (col("__b") + 1).cast("int"))
      sum(col("__k") * wcol).as(s"__S_$l")
    }
    val agg = tri.groupBy(col("doc_id"))
      .agg(sum(col("__k")).as("__n"), sums: _*)
    val withM = langs.foldLeft(agg)((d, l) => d.withColumn(s"__m_$l",
      floor(col(s"__S_$l").cast("double") / col("__n") + 0.5)))
    val best = langs.foldRight(lit("und")) { (l, alt) =>
      val m = col(s"__m_$l")
      val beatsAll = langs.filter(_ != l)
        .map(o => m >= col(s"__m_$o")).reduce(_ && _)
      when(m.isNotNull && beatsAll, lit(l)).otherwise(alt)
    }
    docs.select(col("doc_id"))
      .join(withM, Seq("doc_id"), "left")
      .select(col("doc_id") +:
        langs.map(l => (col(s"__m_$l") / lit(1e6)).as(s"score_$l")) :+
        best.as("predicted_lang"): _*)
  }

  /**
   * Margin-gated language routing — the CONFIDENCE knob in front of
   * [[langIdTrained]] (fastText exposes probabilities for the same
   * reason): `margin_micro` is the µ-int gap between the best and
   * second-best per-trigram mean log-likelihoods, and `routed_lang`
   * keeps the prediction only when the gap clears `minMarginMicro` —
   * low-margin documents route to 'und' instead of polluting a mixing
   * recipe with coin-flip labels. On a corpus whose labels carry no
   * signal the margins collapse and the gate routes (nearly) everything
   * to 'und'; on a genuinely multilingual corpus the margins are wide
   * and the gate keeps (nearly) everything — measured on both in
   * BASELINE.md, which is the calibration story this operator exists
   * to make queryable. The default gate (0.5 per-trigram mean
   * log-likelihood gap ≈ an e^0.5 likelihood ratio per trigram) sits
   * an order of magnitude above the label-random corpus's p90 margin
   * (0.106) and an order below the multilingual fixture's p10 (3.6) —
   * both measured, BASELINE.md r20.
   *
   * Scale shape: one projection over [[langIdTrained]]'s output — the
   * µ-ints are recovered exactly from the 6-dp scores (integer-valued
   * doubles round-trip), sorted per row (|langs| elements), no new
   * shuffle or join. Ties and NULLs: an all-NULL score row (no
   * trigram) has NULL margin and routes 'und'; sort places NULLs last
   * in both engines by explicit spec.
   */
  def langIdMargin(docs: DataFrame, langs: Seq[String] = LangIdLangs,
                   nBuckets: Int = LangIdBuckets, trainN: Int = LangIdTrainN,
                   salt: String = LangIdSalt,
                   sharedTri: Option[DataFrame] = None,
                   weights: Option[Map[String, Array[Long]]] = None,
                   minMarginMicro: Long = LangIdMinMarginMicro): DataFrame = {
    val scored = langIdTrained(docs, langs, nBuckets, trainN, salt,
      sharedTri, weights)
    val ms = langs.map(l =>
      floor(col(s"score_$l") * 1e6 + 0.5).cast("long"))
    val arr = sort_array(array(ms: _*), asc = false)
    val margin = element_at(arr, 1) - element_at(arr, 2)
    scored.select(col("doc_id"), col("predicted_lang"),
      margin.as("margin_micro"),
      when(col("predicted_lang") =!= "und" && margin >= minMarginMicro,
        col("predicted_lang")).otherwise("und").as("routed_lang"))
  }

  /**
   * Stateless per-row form of [[langIdTrained]] — the INGEST-time shape
   * ([[hashedLinearScoreStateless]] convention): the |langs| weight
   * tables are plan literals, each row folds its OWN trigram array with
   * `aggregate(...)` — no explode, no join, no aggregation, ZERO state
   * on an unbounded stream. Row-for-row equal to the batch scorer
   * (pinned in TextAnalysisSpec): the fold sums the same longs in
   * string order, and long addition commutes exactly.
   */
  def langIdTrainedStateless(docs: DataFrame,
                             langs: Seq[String] = LangIdLangs,
                             nBuckets: Int = LangIdBuckets,
                             weights: Map[String, Array[Long]]): DataFrame = {
    val tris = charTrigrams(col("text"))
    val n = size(tris)
    // ONE codegen'd pass over the trigram array computes every
    // language's Σ w_l[bucket] (r21, graftshim.BucketWeightSums): the
    // per-language `aggregate(...)` HOFs each re-hashed every trigram
    // through an interpreted lambda per row per microbatch; the md5 now
    // runs once per trigram for all |langs| tables, value-identically
    weights.foreach { case (l, w) => require(w.length == nBuckets,
      s"weight table for $l has ${w.length} buckets != $nBuckets") }
    val sums = org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.BucketWeightSums(
        org.apache.spark.sql.graftshim.ColumnShim.expression(tris),
        langs.map(weights(_)).toArray))
    val withM = langs.zipWithIndex.foldLeft(
      docs.select(col("doc_id"), col("text"))) { case (d, (l, i)) =>
        d.withColumn(s"__m_$l",
          when(col("text").isNotNull && n > 0,
            floor(element_at(sums, i + 1).cast("double") / n + 0.5)))
    }
    val best = langs.foldRight(lit("und")) { (l, alt) =>
      val m = col(s"__m_$l")
      val beatsAll = langs.filter(_ != l)
        .map(o => m >= col(s"__m_$o")).reduce(_ && _)
      when(m.isNotNull && beatsAll, lit(l)).otherwise(alt)
    }
    withM.select(col("doc_id") +:
      langs.map(l => (col(s"__m_$l") / lit(1e6)).as(s"score_$l")) :+
      best.as("predicted_lang"): _*)
  }

  /**
   * Per-document TF-IDF top terms — the keyword/topic signal a curation
   * pipeline uses for domain tagging and mixture analysis: for each
   * document the `topK` tokens by `tf · ln(N / df)` (rounded to 6 dp
   * BEFORE ranking so engine-ulp noise in `ln` can't flip a rank; ties
   * break lexicographically).
   *
   * Scale shape: one (doc, token) hash aggregation with map-side
   * partials, a vocab-sized document-frequency aggregation joined back
   * (broadcast when the vocab fits — the optimizer's call; NOT a
   * per-token window, which would sort the corpus by token and put every
   * stopword's rows in one partition), then the per-doc rank. Corpus
   * total N folds into the plan as a driver literal, the
   * [[unigramLogProb]] idiom.
   */
  /** Count of documents with non-null text — the tf-idf N. One tiny
    * job; registry callers memoize it per (session, corpus). */
  def nDocsWithText(docs: DataFrame): Long = {
    val nRow = docs.filter(col("text").isNotNull).agg(count(lit(1))).first()
    if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
  }

  def tfidfTopTerms(docs: DataFrame, topK: Int = 3,
                    sharedTf: Option[DataFrame] = None,
                    sharedN: Option[Long] = None): DataFrame = {
    // sharedN = |docs with text| (the idf numerator), memoized per
    // corpus by registry callers so repeated invocations skip the job
    val n = sharedN.getOrElse(nDocsWithText(docs))
    val tf = sharedTf.getOrElse(docTokenCounts(docs))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    tf.join(dfreq, "token")
      .select(col("doc_id"), col("token"),
        round(col("__k") * log(lit(n.toDouble) / col("__df")), 6).as("tfidf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("token"), col("tfidf"), col("rank"))
  }

  /**
   * Per-document token-distribution entropy — the complement of the
   * repetition battery: low-entropy documents are boilerplate/spam even
   * when no single n-gram repeats enough to trip [[repetitionStats]].
   * Emits token count, type count, Shannon entropy in nats
   * (`H = ln n − Σ tf·ln tf / n`, the single-pass algebraic form), and
   * the entropy ratio `H / ln(types)` (null for single-type documents,
   * where the ratio is 0/0).
   *
   * Scale shape: the same two hash aggregations as [[unigramLogProb]]'s
   * per-doc half — (doc, token) counts then a per-doc fold — linear with
   * map-side partials, nothing corpus-wide. Both entropy columns round
   * to 6 dp: the Σ tf·ln tf accumulation order is shuffle-dependent.
   */
  def tokenEntropy(docs: DataFrame,
                   sharedTf: Option[DataFrame] = None): DataFrame = {
    val tf = sharedTf.getOrElse(docTokenCounts(docs))
    val hRaw = log(col("n_tokens").cast("double")) - col("__stl") / col("n_tokens")
    tf.groupBy(col("doc_id"))
      .agg(sum(col("__k")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("__k").cast("double") * log(col("__k").cast("double"))).as("__stl"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(hRaw, 6).as("entropy"),
        when(col("n_types") > 1,
          round(hRaw / log(col("n_types").cast("double")), 6)).as("entropy_ratio"))
  }

  /**
   * Token-budget shard packing — the second half of context-length
   * packing ([[tokenChunks]] is the first): assign whole documents, in
   * deterministic (source, doc_id) order, to consecutive training shards
   * of ~`budget` tokens, emitting each document's shard id and token
   * offset within the shard's running stream. A writer then emits one
   * shard file per (source, shard_id) group; documents never split
   * across shards (a shard overflows by at most one document — the
   * greedy fill-then-spill trade every packer makes when documents are
   * atomic).
   *
   * Scale shape (the r7→r8 fix): the obvious one-window form
   * ([[packShardsGlobalWindow]]) runs one running-sum window per source,
   * so a single giant source serializes its prefix sum into ONE task
   * chain — the classic 100 TB cliff. The default here is the
   * distributed two-pass prefix sum instead: range-partition the corpus
   * by (source, doc_id), aggregate per-(partition, source) token totals
   * (a partitions×sources-row frame, never the corpus), window those
   * tiny totals into per-partition BASE offsets, broadcast-join the
   * bases back, and finish with a running-sum window over
   * (partition, source) — every stage's parallelism scales with the
   * range partition count, not the source count. The ASSIGNMENT is
   * identical to the global-window form (asserted in TextAnalysisSpec
   * and by the shared `pack_shards` oracle): range boundaries split
   * (source, doc_id) order, so base + within-partition prefix equals the
   * global per-source prefix.
   *
   * The range-partitioned frame is persisted ([[graft.queries.SharedFrames.aux]])
   * because the totals pass and the final window both consume it —
   * and `spark_partition_id` must be read off ONE materialized
   * partitioning, not recomputed per consumer.
   */
  def packShards(docs: DataFrame, budget: Long = 4096L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val parts = graft.queries.SharedFrames.aux(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .repartitionByRange(col("source"), col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    val wBase = W.partitionBy(col("source")).orderBy(col("__pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val bases = parts
      .groupBy(col("__pid"), col("source")).agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__base", coalesce(sum(col("__t")).over(wBase), lit(0L)))
      .select(col("__pid"), col("source"), col("__base"))
    val wIn = W.partitionBy(col("__pid"), col("source")).orderBy(col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    parts
      .join(broadcast(bases), Seq("__pid", "source"))
      .withColumn("__before",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)) + col("__base"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("__before") / lit(budget.toDouble)).cast("long").as("shard_id"),
        (col("__before") % budget).as("offset_tokens"))
  }

  /**
   * Shard-packing efficiency audit — the pad-waste metric a trainer
   * pays for whole-document packing, computed over a [[packShards]]
   * report: one row per source with occupied-shard count, document
   * count, token mass, the FILL share in integer ppm
   * (total_tokens·10⁶ div (n_shards·budget) — can exceed 10⁶: a shard's
   * mass includes its last document's spill past the budget line), the
   * count of overflowing shards, and the largest shard. An oversize
   * document (> budget tokens) lands whole in one shard and skips shard
   * ids entirely — occupied-shard count and max_shard_tokens surface
   * exactly that, the signal to route such documents through
   * [[packSequences]] (which splits across boundaries) instead.
   *
   * Scale shape: a (source, shard) rollup then a |sources| rollup —
   * map-side partials both; all-integer output.
   */
  def packEfficiency(packed: DataFrame, budget: Long = 4096L): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val sh = packed.groupBy(col("source"), col("shard_id"))
      .agg(sum(col("n_tokens")).as("__t"), count(lit(1)).as("__d"))
    sh.groupBy(col("source"))
      .agg(count(lit(1)).as("n_shards"),
        sum(col("__d")).as("n_docs"),
        sum(col("__t")).as("total_tokens"),
        sum(when(col("__t") > budget, 1L).otherwise(0L))
          .as("n_overflow_shards"),
        max(col("__t")).as("max_shard_tokens"))
      .select(col("source"), col("n_shards"), col("n_docs"),
        col("total_tokens"),
        expr(s"total_tokens * 1000000 div (n_shards * $budget)")
          .as("fill_ppm"),
        col("n_overflow_shards"), col("max_shard_tokens"))
  }

  /** The one-window form of [[packShards]] — simplest possible plan,
    * per-source serial prefix sum. Kept as the equivalence baseline the
    * spec checks the two-pass default against; fine whenever no single
    * source dominates the corpus. */
  def packShardsGlobalWindow(docs: DataFrame, budget: Long = 4096L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .withColumn("__before", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        floor(col("__before") / lit(budget.toDouble)).cast("long").as("shard_id"),
        (col("__before") % budget).as("offset_tokens"))
  }

  /**
   * Token-budget selection — MATERIALIZING a mixture: given a per-source
   * token budget, admit each source's documents best-first until the
   * budget fills, the step that turns mixing weights
   * ([[sourceMixTemperature]]) into an actual training corpus. Priority
   * within a source is (gate-passing first, less repetitive first, then
   * doc_id) — the [[qualityGate]] signals, so the docs a curator would
   * keep anyway fill the budget before the marginal ones. Admission is
   * greedy fill-then-spill (a doc is admitted iff the tokens BEFORE it
   * in priority order are under budget — the source overflows by at
   * most one document, the same atomic-document trade as
   * [[packShards]]). One row per document, admitted or not:
   * (doc_id, source, n_tokens, rep_ratio, before_tokens, selected) — a
   * report, so the rejected tail is auditable, not silently dropped.
   *
   * Scale shape: the priority prefix sum is the SAME distributed
   * two-pass discipline as [[packShards]] — range-partition by
   * (source, priority key), per-(partition, source) token totals
   * windowed into broadcast base offsets, then a within-partition
   * running sum — so a single giant source never serializes into one
   * task chain; the gate metrics themselves are narrow per-row
   * expressions. Ordering ties break on the 6-dp-ROUNDED repetition
   * ratio (both engines compare the identical rounded value) and then
   * doc_id, so the admitted set is a pure function of the data.
   */
  /** The gate-priority range-partitioned frame [[selectTokenBudget]] and
    * [[materializeEpochs]]'s remainder admission both consume: the
    * quality-gated (doc, source, n_tokens, rep_ratio, __pk) rows
    * range-partitioned in global admission order with their partition id
    * stamped. Exposed (r21) so the registry can memoize ONE copy — the
    * two registered queries used to each pay the gate scan + range
    * sampling + shuffle independently (guide §2.4: two operations keyed
    * the same way share one exchange). */
  def gatedPriorityParts(docs: DataFrame): DataFrame =
    qualityGate(docs, passThrough = Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("rep_ratio"),
        when(col("keep"), 0).otherwise(1).as("__pk"))
      .repartitionByRange(col("source"), col("__pk"), col("rep_ratio"),
        col("doc_id"))
      .withColumn("__pid", spark_partition_id())

  def selectTokenBudget(docs: DataFrame, budget: Long = 800L,
                        sharedParts: Option[DataFrame] = None): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val W = org.apache.spark.sql.expressions.Window
    val parts = sharedParts.getOrElse(
      graft.queries.SharedFrames.aux(gatedPriorityParts(docs)))
    val wBase = W.partitionBy(col("source")).orderBy(col("__pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val bases = parts
      .groupBy(col("__pid"), col("source"))
      .agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__base", coalesce(sum(col("__t")).over(wBase), lit(0L)))
      .select(col("__pid"), col("source"), col("__base"))
    val wIn = W.partitionBy(col("__pid"), col("source"))
      .orderBy(col("__pk"), col("rep_ratio"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    parts
      .join(broadcast(bases), Seq("__pid", "source"))
      .withColumn("before_tokens",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)) + col("__base"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rep_ratio"),
        col("before_tokens"), (col("before_tokens") < budget).as("selected"))
  }

  /**
   * DSIR-prioritized token-budget selection — the importance-weighted
   * sibling of [[selectTokenBudget]], and the admission rule the DSIR
   * recipe (Xie et al. 2023) actually runs: fill each source's token
   * budget with the documents most like the curated TARGET corpus
   * first, by descending [[dsirWeights]] `avg_log_ratio` (the
   * per-token hashed-n-gram importance log-ratio). Where the quality
   * gate ranks by SHAPE (length/repetition), this ranks by
   * DISTRIBUTION MATCH — the two coexist in a real pipeline (gate
   * first, then importance-fill the survivors).
   *
   * Admission and report shape are [[selectTokenBudget]]'s exactly:
   * greedy fill-then-spill on the prefix (`before_tokens < budget`),
   * one row per scored document, rejected tail auditable. Ordering
   * ties break on the 6-dp-ROUNDED avg_log_ratio (both engines compare
   * the identical rounded value — the rep_ratio discipline) and then
   * doc_id. Documents with no tokens carry no weight row and are
   * absent, matching [[dsirWeights]].
   *
   * Scale shape: the same distributed two-pass prefix sum
   * (range-partition by (source, weight DESC, doc_id) → broadcast base
   * offsets → within-partition window); the weight model itself is
   * bucket-grain broadcast per [[dsirWeights]].
   */
  def dsirSelectTokenBudget(docs: DataFrame, targetIds: DataFrame,
                            budget: Long = 800L, nBuckets: Int = 1024,
                            sharedTf: Option[DataFrame] = None,
                            sharedWeights: Option[DataFrame] = None)
      : DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val W = org.apache.spark.sql.expressions.Window
    // sharedWeights: a caller-memoized [[dsirWeights]] frame over the
    // SAME (docs, targetIds, nBuckets) — the registry shares one copy
    // between dsir_weights and this admission (r21, guide §1.2)
    val weighted = sharedWeights
      .getOrElse(dsirWeights(docs, targetIds, nBuckets, sharedTf))
      .select(col("doc_id"), col("n_tokens"), col("avg_log_ratio"))
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
    val parts = graft.queries.SharedFrames.aux(
      weighted.repartitionByRange(col("source"), col("avg_log_ratio").desc,
          col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    val wBase = W.partitionBy(col("source")).orderBy(col("__pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val bases = parts
      .groupBy(col("__pid"), col("source"))
      .agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__base", coalesce(sum(col("__t")).over(wBase), lit(0L)))
      .select(col("__pid"), col("source"), col("__base"))
    val wIn = W.partitionBy(col("__pid"), col("source"))
      .orderBy(col("avg_log_ratio").desc, col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    parts
      .join(broadcast(bases), Seq("__pid", "source"))
      .withColumn("before_tokens",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)) + col("__base"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("avg_log_ratio"), col("before_tokens"),
        (col("before_tokens") < budget).as("selected"))
  }

  /** The one-window form of [[selectTokenBudget]] — per-source serial
    * prefix sum over the same priority order. Kept as the equivalence
    * baseline the spec checks the two-pass default against (the
    * [[packShardsGlobalWindow]] role). */
  def selectTokenBudgetGlobalWindow(docs: DataFrame,
                                    budget: Long = 800L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("source"))
      .orderBy(col("__pk"), col("rep_ratio"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    qualityGate(docs, passThrough = Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("rep_ratio"),
        when(col("keep"), 0).otherwise(1).as("__pk"))
      .withColumn("before_tokens",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("rep_ratio"),
        col("before_tokens"), (col("before_tokens") < budget).as("selected"))
  }

  /**
   * Epoch planning — the data-RECIPE step between mixing weights and
   * materialization: given a total training-token budget and a
   * temperature exponent, compute each source's token TARGET
   * (α-tempered share of the budget) against what it actually HAS, and
   * express the consequence as repeat factors — the "3.2 epochs of
   * wiki, 0.4 of web" table a pre-training run is configured from
   * (over-sampled sources repeat; under-sampled ones are subset by
   * [[selectTokenBudget]]). One row per source:
   * (source, avail_tokens, target_tokens, full_epochs, rem_tokens,
   * repeat_milli) — full_epochs/rem = the div/mod decomposition of the
   * target over the available tokens, repeat_milli the repeat factor in
   * exact milli-units.
   *
   * Engine-portable arithmetic: the tempered weight is
   * floor(avail^α · 10^6 + 0.5) — ONE pow per source on the µ-int grid
   * (the temperatureSourceMix discipline) — so the share denominator is
   * an order-proof int64 sum, and every downstream number is integer
   * div/mod: no float division ever reaches the output. The share
   * denominator folds in as a plan literal (the tfidf corpus-total
   * pattern — one bounded driver scalar at build, no cross join).
   *
   * Scale shape: one per-source rollup (map-side partials over ~|sources|
   * keys) plus narrow arithmetic — |sources| rows out at any corpus size.
   */
  def mixEpochPlan(docs: DataFrame, totalBudget: Long = 30000L,
                   alpha: Double = 0.5): DataFrame = {
    require(totalBudget >= 0, s"totalBudget must be >= 0, got $totalBudget")
    val avail = docs.filter(col("text").isNotNull)
      .select(col("source"),
        size(TextOps.tokens(col("text"))).cast("long").as("__t"))
      .groupBy(col("source")).agg(sum(col("__t")).as("avail_tokens"))
      .withColumn("__p6",
        floor(pow(col("avail_tokens").cast("double"), lit(alpha)) * 1e6
          + 0.5).cast("long"))
    // Empty-corpus guard (ADVICE r18): sum over zero rows is NULL — a
    // bare getLong would NPE, and tot == 0 would integer-div to NULL
    // targets. Return the empty typed frame instead (the
    // semanticDedupCells empty-corpus convention).
    val tot = Option(avail.agg(sum(col("__p6"))).head().get(0))
      .map(_.asInstanceOf[Long]).getOrElse(0L)
    if (tot == 0L)
      return avail.select(col("source"), col("avail_tokens"),
        lit(0L).as("target_tokens"), lit(0L).as("full_epochs"),
        lit(0L).as("rem_tokens"), lit(0L).as("repeat_milli"))
        .filter(lit(false))
    avail
      .withColumn("target_tokens", expr(s"$totalBudget * __p6 div $tot"))
      .select(col("source"), col("avail_tokens"), col("target_tokens"),
        expr("target_tokens div avail_tokens").as("full_epochs"),
        expr("target_tokens % avail_tokens").as("rem_tokens"),
        expr("target_tokens * 1000 div avail_tokens").as("repeat_milli"))
  }

  /**
   * Epoch MATERIALIZATION — the missing last step from recipe to
   * training manifest: [[mixEpochPlan]] says "3 full epochs of wiki plus
   * 412 remainder tokens"; this emits the actual epoch-stamped document
   * list a trainer consumes. For each source with plan row
   * (full_epochs = F, rem_tokens = R):
   *
   *  - every live (non-NULL-text) document of the source appears once
   *    per FULL pass, `epoch` = 0..F−1;
   *  - the remainder pass (`epoch` = F) is the [[selectTokenBudget]]
   *    greedy admission — quality-gate-passing first, less repetitive
   *    first, doc_id tiebreak — run against budget R, so the partial
   *    epoch holds the documents a curator would keep anyway.
   *
   * One row per (document × epoch): (doc_id, source, n_tokens, epoch).
   * Row count = Σ_src (F_src · n_docs_src + remainder-admitted docs).
   *
   * Scale shape: the plan is |sources| rows, broadcast into both arms;
   * the full-pass repeat is `explode(sequence(0, F−1))` — a map-side
   * fan-out (the curate_funnel pattern), NEVER a join on the repeat
   * factor; the remainder admission is the [[selectTokenBudget]]
   * distributed two-pass prefix sum (range-partition → broadcast base
   * offsets → within-partition window), so a single giant source never
   * serializes into one task chain. Output is linear in
   * Σ F_src · n_docs_src with one shuffle (the admission's range
   * partitioning) at any corpus size.
   */
  def materializeEpochs(docs: DataFrame, totalBudget: Long = 30000L,
                        alpha: Double = 0.5,
                        sharedParts: Option[DataFrame] = None): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val plan = mixEpochPlan(docs, totalBudget, alpha)
      .select(col("source"), col("full_epochs"), col("rem_tokens"))
    val live = docs.filter(col("text").isNotNull)
    val full = live
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .join(broadcast(plan), Seq("source"))
      .filter(col("full_epochs") >= 1)
      .select(col("doc_id"), col("source"), col("n_tokens"),
        explode(sequence(lit(0L), col("full_epochs") - 1)).as("epoch"))
    // the remainder admission runs over the SAME gate-priority parts
    // frame as selectTokenBudget — the registry shares one memoized copy
    // (qualityGate's null-text rows carry NULL signals and can never win
    // admission, so gating `docs` vs `live` is value-identical here)
    val parts = sharedParts.getOrElse(
      graft.queries.SharedFrames.aux(gatedPriorityParts(live)))
    val wBase = W.partitionBy(col("source")).orderBy(col("__pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val bases = parts
      .groupBy(col("__pid"), col("source"))
      .agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__base", coalesce(sum(col("__t")).over(wBase), lit(0L)))
      .select(col("__pid"), col("source"), col("__base"))
    val wIn = W.partitionBy(col("__pid"), col("source"))
      .orderBy(col("__pk"), col("rep_ratio"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    val rem = parts
      .join(broadcast(bases), Seq("__pid", "source"))
      .withColumn("__before",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)) + col("__base"))
      .join(broadcast(plan), Seq("source"))
      .filter(col("__before") < col("rem_tokens"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("full_epochs").as("epoch"))
    full.unionByName(rem)
  }

  /**
   * Concat-and-chunk sequence packing — the OTHER half of context-length
   * packing, complementing [[packShards]] (whole-document shards): lay
   * every document's tokens end-to-end in one deterministic global
   * (source, doc_id) stream and cut the stream at fixed `seqLen`-token
   * boundaries, the way GPT-style pre-training builds its training
   * sequences. Documents CROSS sequence boundaries (no padding waste);
   * the output is the segment map a writer needs to emit each sequence:
   * one row per (document × overlapped sequence) with
   *
   *  - `seq_id`        — which fixed-length sequence the segment lands in
   *  - `seq_offset`    — where in that sequence the segment starts
   *  - `doc_offset`    — where in the document the segment starts
   *  - `seg_tokens`    — segment length (Σ per doc == n_tokens; Σ per
   *                      seq == seqLen except the final partial sequence)
   *
   * Scale shape: the global token offset is the SAME distributed
   * two-pass prefix sum as [[packShards]] — range-partition by
   * (source, doc_id), per-partition token totals (a partition-count-row
   * frame) windowed into per-partition base offsets, broadcast back,
   * running sum within each partition. The segment fan-out
   * (`explode(sequence(first_seq, last_seq))`) adds at most
   * ⌈n_tokens/seqLen⌉ rows per document — output is linear,
   * n_docs + total_tokens/seqLen rows, never quadratic.
   *
   * Assignment identical to the serial one-window form
   * ([[packSequencesGlobalWindow]], the spec's equivalence baseline) and
   * replicated value-for-value by the DuckDB oracle.
   */
  def packSequences(docs: DataFrame, seqLen: Long = 512L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val parts = graft.queries.SharedFrames.aux(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .repartitionByRange(col("source"), col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    // global stream: the cross-partition base offsets close over the
    // tiny per-partition totals frame (partition-count rows) WITHOUT a
    // partition-less window (the r20 sweep bans those, bounded or not):
    // receiver-side explode(sequence(0, i-1)) pairs each partition with
    // every earlier one, equi-joined back on the totals — the
    // classifierEval closure idiom
    val totals = parts
      .groupBy(col("__pid")).agg(sum(col("n_tokens")).as("__t"))
    val bases = totals
      .filter(col("__pid") > 0)
      .select(col("__pid").as("__i"),
        explode(sequence(lit(0), col("__pid") - 1)).as("__j"))
      .join(totals.select(col("__pid").as("__j"), col("__t").as("__tj")),
        Seq("__j"))
      .groupBy(col("__i")).agg(sum(col("__tj")).as("__base"))
      .select(col("__i").as("__pid"), col("__base"))
    val wIn = W.partitionBy(col("__pid")).orderBy(col("source"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    segmentSpans(parts
      .join(broadcast(bases), Seq("__pid"), "left")
      .withColumn("__s",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L))
          + coalesce(col("__base"), lit(0L))),
      seqLen)
  }

  /** The one-window form of [[packSequences]] — a single global ordered
    * running sum, serial by construction. Kept as the equivalence
    * baseline the spec checks the two-pass default against. */
  def packSequencesGlobalWindow(docs: DataFrame, seqLen: Long = 512L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("source"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    segmentSpans(docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .withColumn("__s", coalesce(sum(col("n_tokens")).over(w), lit(0L))),
      seqLen)
  }

  /** Shared segment fan-out for the [[packSequences]] family: rows
    * carry (doc_id, source, n_tokens, __s = global start offset); emit
    * one row per overlapped `seqLen`-token sequence. Zero-token
    * documents vanish (they contribute no tokens to any sequence).
    * `extra` columns (e.g. `epoch`) pass through ahead of doc_id. */
  private def segmentSpans(withStart: DataFrame, seqLen: Long,
                           extra: Seq[String] = Nil): DataFrame = {
    val L = lit(seqLen)
    withStart
      .filter(col("n_tokens") > 0)
      .withColumn("__e", col("__s") + col("n_tokens"))
      .withColumn("seq_id", explode(sequence(
        floor(col("__s") / lit(seqLen.toDouble)).cast("long"),
        floor((col("__e") - 1) / lit(seqLen.toDouble)).cast("long"))))
      .withColumn("__segs", greatest(col("__s"), col("seq_id") * L))
      .select(extra.map(col) ++ Seq(
        col("doc_id"), col("source"), col("n_tokens"), col("seq_id"),
        (col("__segs") - col("seq_id") * L).as("seq_offset"),
        (col("__segs") - col("__s")).as("doc_offset"),
        (least(col("__e"), (col("seq_id") + 1) * L) - col("__segs"))
          .as("seg_tokens")): _*)
  }

  /**
   * Epoch-packed training sequences — the last composition in the
   * recipe → manifest → trainer-input chain: take a
   * [[materializeEpochs]] manifest (one row per document × epoch) and
   * cut each EPOCH's token stream into fixed `seqLen`-token sequences,
   * the [[packSequences]] layout applied per training pass. Sequences
   * never cross an epoch boundary (an epoch is a training-pass
   * boundary; a sequence spanning two passes would train on a seam no
   * reader ever produces), so `seq_id` restarts at 0 within each epoch
   * and (epoch, seq_id) names a training sequence.
   *
   * The within-epoch stream order is a SEEDED SHUFFLE, not corpus
   * order: documents lay out by `md5(epoch:doc_id)` (doc_id tiebreak),
   * so every epoch presents the corpus in a different — but fully
   * deterministic and engine-portable — order, the way a real training
   * run shuffles per epoch with a seeded RNG. Replaying corpus order
   * every epoch is exactly what per-epoch shuffling exists to prevent.
   *
   * Output: one row per (manifest row × overlapped sequence) —
   * (epoch, doc_id, source, n_tokens, seq_id, seq_offset, doc_offset,
   * seg_tokens); Σ seg_tokens per (epoch, seq_id) = seqLen except each
   * epoch's final partial sequence.
   *
   * Scale shape: the same distributed two-pass prefix sum as
   * [[packSequences]], range-partitioned by (epoch, shuffle key) with
   * per-(partition, epoch) token totals windowed into broadcast base
   * offsets — parallelism scales with partitions, not epochs; the
   * shuffle key is one md5 per row. Serial baseline:
   * [[packEpochSequencesGlobalWindow]] (spec-pinned equivalent).
   */
  def packEpochSequences(manifest: DataFrame, seqLen: Long = 512L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val keyed = manifest.select(col("doc_id"), col("source"),
      col("n_tokens"), col("epoch"),
      md5(concat(col("epoch").cast("string"), lit(":"),
        col("doc_id").cast("string"))).as("__ord"))
    val parts = graft.queries.SharedFrames.aux(
      keyed.repartitionByRange(col("epoch"), col("__ord"), col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    val wBase = W.partitionBy(col("epoch")).orderBy(col("__pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val bases = parts
      .groupBy(col("__pid"), col("epoch"))
      .agg(sum(col("n_tokens")).as("__t"))
      .withColumn("__base", coalesce(sum(col("__t")).over(wBase), lit(0L)))
      .select(col("__pid"), col("epoch"), col("__base"))
    val wIn = W.partitionBy(col("__pid"), col("epoch"))
      .orderBy(col("__ord"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    segmentSpans(parts
      .join(broadcast(bases), Seq("__pid", "epoch"))
      .withColumn("__s",
        coalesce(sum(col("n_tokens")).over(wIn), lit(0L)) + col("__base")),
      seqLen, extra = Seq("epoch"))
  }

  /**
   * Manifest-vs-plan realization audit — the release gate on
   * [[materializeEpochs]]: per source, did the emitted manifest realize
   * the plan's token target? One row per source:
   * (source, target_tokens, realized_tokens, overflow_tokens,
   * full_epochs, rem_tokens, n_rows, n_remainder_docs), all integers.
   *
   * The invariant a green audit certifies (and the spec pins):
   * `0 ≤ overflow_tokens < max doc tokens` — the greedy remainder
   * admission covers the target and overshoots by at most ONE document
   * (realized = full_epochs·avail + admitted-remainder, and the
   * admitted prefix's token sum is ≥ rem_tokens yet < rem_tokens + the
   * spilling doc). A negative overflow or a multi-document overshoot
   * means the manifest does not implement the plan — exactly the
   * corruption class a release note must fail on.
   *
   * Scale shape: one |sources|-key rollup over the manifest + a
   * broadcast join against the |sources|-row plan. O(sources) output.
   */
  def epochManifestAudit(manifest: DataFrame, plan: DataFrame): DataFrame = {
    val p = plan.select(col("source"), col("target_tokens"),
      col("full_epochs"), col("rem_tokens"))
    // every PLAN source reports, even one the manifest (correctly)
    // dropped at target 0 — a zero row, not a missing row
    val agg = manifest.join(broadcast(p), Seq("source"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("__rt"),
        count(lit(1)).as("__nr"),
        count(when(col("epoch") === col("full_epochs"), 1)).as("__nrem"))
    p.join(broadcast(agg), Seq("source"), "left")
      .select(col("source"), col("target_tokens"),
        coalesce(col("__rt"), lit(0L)).as("realized_tokens"),
        (coalesce(col("__rt"), lit(0L)) - col("target_tokens"))
          .as("overflow_tokens"),
        col("full_epochs"), col("rem_tokens"),
        coalesce(col("__nr"), lit(0L)).as("n_rows"),
        coalesce(col("__nrem"), lit(0L)).as("n_remainder_docs"))
  }

  /** The one-window form of [[packEpochSequences]] — a per-epoch serial
    * running sum over the same shuffled order. Kept as the equivalence
    * baseline the spec checks the two-pass default against. */
  def packEpochSequencesGlobalWindow(manifest: DataFrame,
                                     seqLen: Long = 512L): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val w = W.partitionBy(col("epoch")).orderBy(col("__ord"), col("doc_id"))
      .rowsBetween(W.unboundedPreceding, -1)
    segmentSpans(manifest.select(col("doc_id"), col("source"),
        col("n_tokens"), col("epoch"),
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("__ord"))
      .withColumn("__s", coalesce(sum(col("n_tokens")).over(w), lit(0L))),
      seqLen, extra = Seq("epoch"))
  }

  /**
   * Per-source EXACT length-percentile gate — the distribution-aware
   * cousin of [[qualityGate]]'s fixed token bounds: a curation pipeline
   * trims each source's length tails ("drop the shortest 5% and longest
   * 5% of every crawl") rather than applying one global threshold,
   * because a 30-token document is an outlier in a books source and the
   * median in a chat source. Emits every document with its percentile
   * rank and a keep flag for `[pLow, pHigh]`.
   *
   * Exact ranks (not `approx_percentile`) so the DuckDB oracle verifies
   * values bit-for-bit; the tiebreak on doc_id makes the order total, so
   * `rank == row_number` and percent_rank's tie semantics can't diverge
   * between engines. `pr` is rounded to 6 dp BEFORE the keep comparison
   * in both engines — the boundary decision is made on the same value.
   *
   * Scale shape: same distributed two-pass rank as [[packShards]] — a
   * per-source window sort would serialize each source's rank chain into
   * one task ([[lengthPercentileGateGlobalWindow]], the equivalence
   * baseline). Here the corpus range-partitions by (source, n_tokens,
   * doc_id); per-(partition, source) row counts (a partitions×sources
   * frame, never the corpus) window into per-partition rank BASES and
   * per-source totals, broadcast back, and a within-partition row_number
   * finishes the global rank — parallelism scales with the partition
   * count, not the source count.
   */
  def lengthPercentileGate(docs: DataFrame, pLow: Double = 0.05,
                           pHigh: Double = 0.95): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val parts = graft.queries.SharedFrames.aux(
      docs.filter(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          size(TextOps.tokens(col("text"))).as("n_tokens"))
        .repartitionByRange(col("source"), col("n_tokens"), col("doc_id"))
        .withColumn("__pid", spark_partition_id()))
    val wBase = W.partitionBy(col("source")).orderBy(col("__pid"))
      .rowsBetween(W.unboundedPreceding, -1)
    val bases = parts
      .groupBy(col("__pid"), col("source")).agg(count(lit(1)).as("__c"))
      .withColumn("__base", coalesce(sum(col("__c")).over(wBase), lit(0L)))
      .withColumn("__n", sum(col("__c")).over(W.partitionBy(col("source"))))
      .select(col("__pid"), col("source"), col("__base"), col("__n"))
    val wIn = W.partitionBy(col("__pid"), col("source"))
      .orderBy(col("n_tokens"), col("doc_id"))
    parts
      .join(broadcast(bases), Seq("__pid", "source"))
      .withColumn("__rank", row_number().over(wIn) + col("__base"))
      .withColumn("pr", round(when(col("__n") > 1,
        (col("__rank") - 1).cast("double") / (col("__n") - 1))
        .otherwise(0.0), 6))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("pr"),
        (col("pr") >= pLow && col("pr") <= pHigh).as("keep"))
  }

  /** The one-window form of [[lengthPercentileGate]] — a per-source
    * percent_rank, serial per source. Kept as the equivalence baseline
    * the spec checks the two-pass default against. */
  def lengthPercentileGateGlobalWindow(docs: DataFrame, pLow: Double = 0.05,
                                       pHigh: Double = 0.95): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("n_tokens"), col("doc_id"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("pr"),
        (col("pr") >= pLow && col("pr") <= pHigh).as("keep"))
  }

  /**
   * ROBUST per-source length gate — the MAD sibling of
   * [[lengthPercentileGate]]: where the percentile gate trims fixed
   * tail FRACTIONS (always removes `pLow + (1−pHigh)` of every source,
   * outliers or not), this flags documents whose length is
   * statistically anomalous FOR THEIR SOURCE by the Iglewicz–Hoaglin
   * modified z-score `0.6745·(n_chars − median) / MAD` (the
   * [[graft.ops.AnomalyDetect.madAlerts]] statistic, applied as a
   * curation gate): a clean source loses nothing, a contaminated one
   * loses exactly its anomalies. Mean/std would not do here — corpus
   * length distributions are heavy-tailed, and the outliers being
   * hunted inflate a stddev baseline enough to mask themselves.
   *
   * Emits every document with its `robust_z` and a keep flag:
   *  - `keep = |robust_z| ≤ threshold`, robust_z quantized to the µ-int
   *    grid `floor(z·1e6 + 0.5)/1e6` BEFORE the comparison — both
   *    engines decide on the same value. NOT `round(z, 6)`: the two
   *    engines scale differently inside two-arg round, and the sf0.1
   *    gate caught a real −0.2529375 half-tie landing on different
   *    sides (r14; the microLogit lesson, now applied to every robust-z
   *    site). No NaN guard here: n_chars is integral and MAD == 0 takes
   *    the NULL branch, so the z ratio can never be NaN (contrast
   *    [[graft.ops.AnomalyDetect.madAlerts]], whose double-valued series
   *    needs the isnan guard);
   *  - a zero-MAD source (majority-identical lengths) keeps everything
   *    and emits NULL robust_z — a degenerate scale statistic is no
   *    evidence against any row, and the percentile gate covers
   *    fraction-based trimming there.
   *
   * Scale: ONE shuffle on `source` — two chained unordered WindowExec
   * passes (median, then MAD of residuals), no sort frame, no rank
   * chain; the `approx_percentile` switch applies at 100 TB as usual.
   */
  def robustLengthGate(docs: DataFrame, threshold: Double = 3.5): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"),
        col("n_chars").cast("double").as("n_chars"))
      .withColumn("__med", percentile(col("n_chars"), lit(0.5)).over(w))
      .withColumn("__mad",
        percentile(abs(col("n_chars") - col("__med")), lit(0.5)).over(w))
      .withColumn("robust_z", when(col("__mad") > 0.0,
        floor(lit(0.6745) * (col("n_chars") - col("__med")) / col("__mad")
          * 1e6 + 0.5) / 1e6))
      .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"),
        col("robust_z"),
        (col("__mad") <= 0.0 || abs(col("robust_z")) <= threshold).as("keep"))
  }
}
