package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Document deduplication operators over a `documents(doc_id, text, ...)`
 * table — the dedup family a 100 TB training-data pipeline needs:
 *
 *  - [[exact]]: hash-groupBy exact dedup (one shuffle on the content
 *    fingerprint, map-side partial aggregation).
 *  - [[nearDupMinhashLsh]]: MinHash + banded LSH near-dup detection.
 *    The per-document shingle SET is kept as an array column, so the
 *    whole signature pass is map-side (array_min over the array — no
 *    explode, no shuffle); only the band-bucket join shuffles, and it
 *    never compares all pairs. Candidate verification fetches the two
 *    shingle arrays by doc_id and intersects them per-row. This is THE
 *    scale path: corpus-linear, one narrow scan + small-key shuffles.
 *  - [[jaccardPairsExact]]: exact n-gram Jaccard via a shingle inverted
 *    index (explode of the same arrays). Ground truth for LSH recall
 *    tests and for small/medium corpora; at 100 TB the hot-shingle join
 *    term makes LSH the right tool (or pre-filter stop-shingles by
 *    document frequency).
 *
 * Every step is Catalyst built-ins over the portable hash family
 * ([[TextOps.saltedHash]]), so the full pipelines — including MinHash
 * signatures and band buckets — are replicated by DuckDB oracle SQL.
 */
object Dedup {

  /**
   * Exact dedup: one row per distinct text, keeping the smallest doc_id,
   * with the group size and content fingerprint. GroupBy (not a window)
   * so partial aggregation runs map-side before the single hash shuffle.
   */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text")).as("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"))
      .select(col("doc_id"), col("fingerprint"), col("group_size"))

  /** Canonical text form for [[normalizedExact]]: lowercase, every
    * non-alphanumeric run collapsed to a single space, trimmed. The two
    * regexes deliberately use only constructs with identical semantics in
    * Java regex and RE2 (plain character classes and `+`), so the DuckDB
    * oracle can apply them verbatim (with its explicit `'g'` flag —
    * DuckDB replaces only the first match by default, Spark all). */
  def normalizedForm(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "),
      " +", " "))

  /**
   * Normalized exact dedup — [[exact]] after canonicalization, the
   * standard pre-pass (CCNet / RefinedWeb style) that catches the
   * trivially-reformatted duplicates byte-hashing misses: case changes,
   * punctuation/whitespace variants. One row per distinct NORMALIZED
   * text keeping the smallest doc_id, with the group size and
   * `n_variants` = how many distinct RAW texts the group collapsed
   * (1 everywhere ⇒ normalization found nothing byte-hashing would not).
   *
   * Scale shape: identical to [[exact]] — the normalization is a narrow
   * per-row projection fused into the scan, then ONE map-side-partial
   * hash shuffle on the fingerprint. `count(DISTINCT raw)` rewrites to a
   * two-level partial aggregate on the same key, no extra shuffle of the
   * corpus.
   */
  def normalizedExact(docs: DataFrame): DataFrame =
    canonicalExact(docs, normalizedForm(col("text")))

  /** Shared body of the canonical-form dedups ([[normalizedExact]],
    * [[unicodeExact]]): group on the md5 of the given canonical form,
    * keep the smallest doc_id, count the group and its distinct RAW
    * texts (n_variants = 1 everywhere ⇒ canonicalization found nothing
    * byte-hashing would not). */
  private def canonicalExact(docs: DataFrame, form: Column): DataFrame =
    docs
      .groupBy(md5(form).as("fingerprint"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("group_size"),
        countDistinct(md5(col("text"))).as("n_variants"))
      .select(col("doc_id"), col("fingerprint"), col("group_size"),
        col("n_variants"))

  /** The Unicode-canonical form: NFC + casefold + letter/digit-run
    * tokens re-joined by single spaces ([[TextOps.unicodeTokens]] — ONE
    * canonicalization shared with the tokenizer knob, not a second
    * regex). Where [[normalizedForm]]'s `[^a-z0-9 ]` class erases every
    * non-Latin script (a Cyrillic document normalizes to EMPTY and all
    * such documents collapse into one false dup group), this keeps all
    * scripts and folds what Unicode says is equal. */
  def unicodeForm(text: Column): Column =
    // explicit null guard: Spark's concat_ws returns "" on a NULL array
    // (it skips nulls) while DuckDB's array_to_string propagates NULL —
    // a NULL text must read a NULL form on both engines, not collapse
    // into the empty-document dup group on one of them
    when(text.isNull, lit(null).cast("string"))
      .otherwise(concat_ws(" ", TextOps.unicodeTokens(text)))

  /**
   * Unicode-canonical exact dedup — [[normalizedExact]] for multi-script
   * corpora: fingerprints over [[unicodeForm]], so canonically
   * equivalent byte sequences ("é" composed vs decomposed), case
   * variants in ANY script, and punctuation/whitespace reformattings
   * collapse — while non-Latin documents keep their identity instead of
   * being erased to the empty string. Same output shape and the same
   * scale shape as [[exact]]: narrow per-row canonicalization fused into
   * the scan (the NFC expression has an already-normalized fast path),
   * then ONE map-side-partial hash shuffle on the fingerprint.
   */
  def unicodeExact(docs: DataFrame): DataFrame =
    canonicalExact(docs, unicodeForm(col("text")))

  /**
   * (doc_id, sh) with sh the DISTINCT word n-gram shingle set as an array
   * column — pure narrow projection, no shuffle. This is the shared
   * upstream of both near-dup operators; callers running several dedup
   * passes persist it once (a production pipeline would write it to a
   * table). Documents with no complete shingle keep an empty array.
   */
  def shingleArrays(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"),
      array_distinct(TextOps.shingles(TextOps.tokens(col("text")), n)).as("sh"))

  /** Distinct (doc_id, shingle) pairs — the exploded inverted-index view
    * of [[shingleArrays]] (rows already distinct: the arrays are sets). */
  private def explodeShingles(docShingles: DataFrame): DataFrame =
    docShingles.select(col("doc_id"), explode(col("sh")).as("shingle"))

  /** A caller-supplied shared shingle index must match the requested
    * width, or jaccard values would silently be computed over the wrong
    * n-grams — checked against the first non-empty row's token count. */
  private def requireWidth(docShingles: DataFrame, n: Int): DataFrame = {
    val sample = docShingles.filter(size(col("sh")) > 0)
      .select(size(split(element_at(col("sh"), 1), " ", -1)).as("w"))
      .limit(1).collect()
    sample.headOption.foreach { r =>
      require(r.getInt(0) == n,
        s"shared shingle index has width ${r.getInt(0)}, expected $n")
    }
    docShingles
  }

  /**
   * Per-document n-gram novelty — the diversity twin of the duplication
   * detectors: of a document's distinct shingles, how many appear in NO
   * other document (corpus df = 1)? Low novelty means the document is
   * assembled from text the corpus already has (boilerplate, templates,
   * near-dups that slipped the pair detectors); data-selection recipes
   * use it as an upsampling/downsampling signal. Documents with an
   * empty shingle set are excluded, matching the oracle's
   * `WHERE len(toks) >= n`.
   *
   * Scale shape (r21 rewrite, guide §2.3 — shuffle fewer bytes): ONE
   * aggregation of the exploded inverted-index view at shingle grain
   * computes each shingle's df AND, for df = 1 shingles, the single
   * owning document (`min(doc_id)` of one row) — so the novel counts
   * roll up from the df = 1 rows alone, and the per-doc denominator is
   * just `size(sh)` off the array frame (the arrays are distinct sets).
   * The pre-r21 form instead equi-joined the FULL occurrence table back
   * against the df table — a second corpus-sized shuffle at token
   * grain; now the only occurrence-grain shuffle is the df aggregation
   * (map-side partials absorb hot boilerplate shingles), and the join
   * back to documents moves |novel shingles| ≤ corpus rows at doc
   * grain. Values are identical: novelty = n_novel/n_shingles in the
   * same exact-integer-operand IEEE division the old `avg` computed
   * (pinned in DedupSpec).
   */
  def ngramNovelty(docShingles: DataFrame): DataFrame = {
    val perDoc = docShingles.filter(size(col("sh")) > 0)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
    val novelOwners = explodeShingles(docShingles)
      .groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"), min(col("doc_id")).as("__owner"))
      .filter(col("__df") === 1)
      .groupBy(col("__owner").as("doc_id"))
      .agg(count(lit(1)).as("__novel"))
    perDoc.join(novelOwners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("__novel"), lit(0L)).as("n_novel"),
        round(coalesce(col("__novel"), lit(0L)).cast("double")
          / col("n_shingles").cast("double"), 6).as("novelty"))
  }

  /**
   * k lexicographic-min MinHashes per document, columns h0..h{k-1},
   * computed map-side from the shingle array (array_min over a transform)
   * — no explode, no aggregation shuffle. Hash family: each salted md5
   * yields FOUR independent 32-bit lanes (disjoint 8-hex-char slices), so
   * k lanes cost only ⌈k/4⌉ md5 evaluations per shingle — md5 is the
   * per-row CPU cost of the whole signature pass, and the slicing is
   * portable (DuckDB `substr(md5(...))` is byte-identical). Documents
   * with an empty shingle set are excluded (they have no signature),
   * matching the oracle's `WHERE len(toks) >= n`.
   */
  def minhashSignature(docShingles: DataFrame, k: Int): DataFrame = {
    // ONE codegen'd pass computes all k lane minima (r21,
    // graftshim.MinHashLanes): the per-base `transform(sh, saltedHash)`
    // + per-lane `array_min(transform(substring))` HOF lattice was
    // CodegenFallback — an interpreted lambda walk per base and per
    // lane; the native pass hashes each shingle once per base and
    // tracks every lane's min together, value-identically
    // (TextOpsShimSpec pins the column lattice)
    val lanes = org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.MinHashLanes(
        org.apache.spark.sql.graftshim.ColumnShim.expression(col("sh")), k))
    docShingles.filter(size(col("sh")) > 0).select(
      col("doc_id") +:
        (0 until k).map(i => element_at(lanes, i + 1).as(s"h$i")): _*)
  }

  /** The pre-r21 HOF form of [[minhashSignature]] — kept as the
    * equivalence baseline TextOpsShimSpec pins the codegen'd expression
    * against. */
  private[graft] def minhashSignatureHof(docShingles: DataFrame, k: Int): DataFrame = {
    val nBase = (k + 3) / 4
    val withBases = docShingles.filter(size(col("sh")) > 0).select(
      col("doc_id") +:
        (0 until nBase).map(b =>
          transform(col("sh"), s => TextOps.saltedHash(b, s)).as(s"__b$b")): _*)
    val mins = (0 until k).map(i =>
      array_min(transform(col(s"__b${i / 4}"),
        h => substring(h, 1 + 8 * (i % 4), 8))).as(s"h$i"))
    withBases.select(col("doc_id") +: mins: _*)
  }

  /**
   * Banded LSH candidate pairs (doc_a < doc_b): documents agreeing on all
   * rows of any band collide on that band's key. `bands * rowsPerBand`
   * must equal the signature width. The self-join shuffles on (band,
   * band-key) — identical signatures land in the same bucket; random
   * pairs collide with probability ~jaccard^rowsPerBand per band.
   *
   * Skew defense (same trade as the sign-LSH cap): a mass-duplicate class
   * — millions of copies of one boilerplate text at 100 TB — puts one
   * signature in one bucket and makes the pair join quadratic in class
   * size. Buckets over `maxBucketSize` are dropped; collapse exact
   * duplicates first (see [[exact]]) when mass duplication is expected.
   */
  /** One (doc_id, band, bkey) row per signature band — the banding
    * expression shared by [[lshCandidates]] and [[lshBucketStats]] (the
    * audit MUST hash the exact keys the pair join shuffles on). */
  private def bandedKeys(signature: DataFrame, bands: Int,
                         rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"h$i"))
      struct(lit(b).as("band"), md5(concat(cols: _*)).as("bkey"))
    }
    signature
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))
  }

  def lshCandidates(signature: DataFrame, bands: Int, rowsPerBand: Int,
                    maxBucketSize: Int = 1000): DataFrame = {
    // persisted: both sides of the self-join consume this frame — without
    // the cache the signature expansion AND the bucket-size window run
    // twice (one row per (doc, band): tiny relative to the corpus)
    val banded = graft.queries.SharedFrames.aux(
      bandedKeys(signature, bands, rowsPerBand)
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("band"), col("bkey"))))
        .filter(col("__n") <= maxBucketSize)
        .drop("__n"))
    val a = banded.alias("a")
    val b = banded.alias("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /**
   * Exact Jaccard for the given candidate pairs, from the shingle ARRAYS:
   * two doc_id equi-joins fetch each side's set, then |A ∩ B| is a
   * per-row array_intersect — no re-shuffle of the corpus-wide inverted
   * index. Candidates are few (post-LSH), so the optimizer broadcasts
   * them against the array frame; at scale both joins stay linear.
   */
  def jaccardForPairs(candidates: DataFrame, docShingles: DataFrame): DataFrame = {
    val sa = docShingles.select(col("doc_id").as("__ida"), col("sh").as("__sha"))
    val sb = docShingles.select(col("doc_id").as("__idb"), col("sh").as("__shb"))
    candidates
      .join(sa, col("__ida") === col("doc_a"))
      .join(sb, col("__idb") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__sha"), col("__shb"))).as("__i"),
        size(col("__sha")).as("__na"), size(col("__shb")).as("__nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("__i").cast("double") /
          (col("__na") + col("__nb") - col("__i"))).as("jaccard"))
  }

  /**
   * Full MinHash-LSH near-dup pipeline: shingle arrays → map-side
   * signature → banded candidates → exact-Jaccard verify → threshold.
   * Output (doc_a, doc_b, jaccard) with jaccard rounded to 6 dp for
   * engine-portable comparison.
   */
  def nearDupMinhashLsh(docs: DataFrame, shingleWidth: Int = 3, k: Int = 8,
                        bands: Int = 4, threshold: Double = 0.5,
                        sharedShingles: Option[DataFrame] = None,
                        sharedSignature: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0, s"signature width $k not divisible into $bands bands")
    // The array frame feeds the signature pass and both verify sides;
    // callers running several dedup operators pass one shared
    // (already-persisted) frame via `sharedShingles`, and callers that
    // ALSO audit bucket occupancy ([[lshBucketStats]]) pass the one
    // signature frame both consume via `sharedSignature` — the signature
    // pass (the md5-dominated map cost) then runs once, not twice.
    val shd = sharedShingles.map(requireWidth(_, shingleWidth)).getOrElse(
      graft.queries.SharedFrames.aux(shingleArrays(docs, shingleWidth)))
    val sig = sharedSignature.getOrElse(minhashSignature(shd, k))
    require(!sig.columns.contains(s"h$k") && sig.columns.contains(s"h${k - 1}"),
      s"shared signature frame does not have width $k")
    val cand = lshCandidates(sig, bands, k / bands)
    jaccardForPairs(cand, shd)
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /**
   * Bloom-filter membership audit for incremental exact dedup — the
   * classic broadcast-sketch primitive for "have we already landed this
   * content?" at 100 TB: the corpus side is summarized ONCE into a
   * fixed-size bit set (k salted-md5 positions per distinct content
   * fingerprint, `mBits` possible positions — represented as the
   * distinct-position table, ≤ `mBits` rows, the relational form of the
   * bit array), and every incoming document probes it map-side through
   * a broadcast join — no shuffle of either corpus or batch. A Bloom
   * filter admits false POSITIVES only, so the cheap membership test
   * routes the (few) hits to the expensive exact path and everything
   * else lands immediately.
   *
   * This operator is the AUDIT form (same design as [[lshRecallAudit]]):
   * it reports, per incoming doc, both the bloom verdict and the exact
   * verdict, so the false-positive rate of a chosen `(kHashes, mBits)`
   * is measured before the exact path is dropped. The no-false-negative
   * guarantee (exact_dup ⇒ bloom_hit) is pinned in DedupSpec.
   *
   * @param isNewBatch predicate splitting `docs` into the incoming
   *                   batch (true) vs the landed corpus (false)
   */
  def bloomDedupAudit(docs: DataFrame, isNewBatch: Column,
                      kHashes: Int = 5, mBits: Int = 4096): DataFrame = {
    def pos(i: Int, c: Column): Column =
      conv(substring(md5(concat(lit(s"$i:"), c)), 1, 8), 16, 10).cast("long") % mBits
    def positions(c: Column): Column =
      explode(array((0 until kHashes).map(i => pos(i, c)): _*))
    val fp = docs.filter(col("text").isNotNull)
      .select(col("doc_id"), md5(col("text")).as("__fp"), isNewBatch.as("__new"))
    val corpusFps = fp.filter(!col("__new")).select(col("__fp")).distinct()
    val bits = corpusFps.select(positions(col("__fp")).as("pos")).distinct()
    val incoming = fp.filter(col("__new"))
    // inner join: an unset position drops its row, so a doc reaches
    // kHashes matched rows iff EVERY probe position is set (duplicate
    // positions within one doc's k probes either all match or all drop)
    val hits = incoming
      .select(col("doc_id"), positions(col("__fp")).as("pos"))
      .join(broadcast(bits), Seq("pos"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__hits"))
    incoming
      .join(hits, Seq("doc_id"), "left")
      .join(corpusFps.select(col("__fp"), lit(true).as("__in")),
        Seq("__fp"), "left")
      .select(col("doc_id"),
        (coalesce(col("__hits"), lit(0L)) === kHashes).as("bloom_hit"),
        coalesce(col("__in"), lit(false)).as("exact_dup"))
  }

  /**
   * Cross-source duplication (leakage) matrix — which corpus SOURCES
   * duplicate each other. Ingest pipelines crawl overlapping feeds
   * (mirrors, aggregators, re-posts); per-pair dedup removes the rows
   * but says nothing about WHERE the duplication concentrates. This
   * rollup turns any near-dup pair table into a per-source-pair report
   * — the input to "drop source B, it's 80% a mirror of A" decisions.
   *
   * Input: a `(doc_a, doc_b, jaccard)` pair table (e.g.
   * [[nearDupMinhashLsh]]) plus `documents(doc_id, source)`. Output one
   * row per unordered source pair that shares at least one near-dup:
   * `(src_a, src_b, pair_count, jaccard_mass_e6)` — src_a <= src_b so
   * the matrix is upper-triangular (self-pairs on the diagonal =
   * WITHIN-source duplication), and the jaccard mass is summed in
   * micro-units as a LONG so it is order-independent and exact
   * (6-dp jaccards are integer multiples of 1e-6; double summation
   * would be non-associative across partitions).
   *
   * Scale shape: the pair table is O(duplicate pairs) — tiny next to
   * the corpus — so BOTH source-lookup joins broadcast the pair side
   * and the 2-column (doc_id, source) projection of the corpus streams
   * map-side through them; the corpus is never shuffled. The final
   * aggregation is on source-pair keys (bounded by #sources²).
   */
  def crossSourceLeakage(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val srcs = docs.select(col("doc_id"), col("source"))
    val withA = broadcast(pairs)
      .join(srcs, col("doc_id") === col("doc_a"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        col("source").as("__srca"))
    broadcast(withA)
      .join(srcs, col("doc_id") === col("doc_b"))
      .groupBy(
        least(col("__srca"), col("source")).as("src_a"),
        greatest(col("__srca"), col("source")).as("src_b"))
      .agg(count(lit(1)).as("pair_count"),
        sum(round(col("jaccard") * 1e6).cast("long")).as("jaccard_mass_e6"))
  }

  /**
   * Benchmark decontamination — the GPT-3/Pile-style n-gram overlap
   * check a training pipeline runs before every release: flag each
   * training document that shares at least one word n-gram with any
   * document of a (small) benchmark/eval set. Output one row per
   * contaminated training doc: (doc_id, n_shared — distinct shingles
   * hit, contaminant_id — smallest overlapping benchmark doc).
   *
   * Scale shape: the benchmark side is orders of magnitude smaller than
   * the corpus, so its distinct (shingle → min doc) index is BROADCAST
   * and the corpus side streams map-side through the join — no corpus
   * shuffle at all until the tiny per-doc aggregation. The big side is
   * never exploded into a shuffled inverted index (contrast
   * [[jaccardPairsExact]], which must pair docs within the corpus).
   *
   * @param isBenchmark predicate splitting `docs` into benchmark rows
   *                    (true) and training rows (false)
   */
  def decontaminate(docs: DataFrame, isBenchmark: org.apache.spark.sql.Column,
                    shingleWidth: Int = 5): DataFrame = {
    val sh = shingleArrays(docs, shingleWidth)
    val bench = explodeShingles(sh.filter(isBenchmark))
      .groupBy(col("shingle")).agg(min(col("doc_id")).as("__bid"))
    val train = explodeShingles(sh.filter(!isBenchmark))
    train
      .join(broadcast(bench), "shingle")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"), min(col("__bid")).as("contaminant_id"))
  }

  /**
   * Duplicate-SPAN statistics — the distributable approximation of
   * suffix-array substring dedup (Lee et al. 2022, "Deduplicating
   * Training Data Makes Language Models Better"): slide a `k`-token
   * window over every document, hash each window, and count per document
   * how many of its windows also occur in at least one OTHER document.
   * Output (doc_id, n_windows, n_dup_windows, dup_fraction) for every
   * document with >= 1 complete window; a high fraction marks documents
   * that are mostly stitched from cross-corpus boilerplate even when no
   * whole-document near-dup fires.
   *
   * Scale shape: the window explode multiplies rows by ~tokens/doc —
   * linear, the same cost the suffix array pays, but embarrassingly
   * parallel. Cross-doc occurrence is a two-level aggregate on the
   * window hash ((hash, doc) partial-agg first, so repeated spans within
   * one doc collapse map-side and `n_docs` needs no COUNT DISTINCT),
   * then a hash-key join back. Window hashes are uniform md5 — no skew
   * except genuinely mass-duplicated spans, which is the signal itself.
   *
   * The window array is bound as a lambda variable (`transform` over a
   * single-element array): a named projection column would be inlined by
   * projection collapse into every slice reference, re-tokenizing the
   * document O(windows) times.
   */
  /** (doc_id, i, h) — one md5 per k-token sliding window with its
    * 0-based start position, multiplicity preserved. Shared upstream of
    * [[duplicateSpanStats]], [[boilerplateSpans]] (which drop `i`) and
    * [[stripBoilerplate]] (which maps hits back to token coverage). */
  private def spanWindowsPos(docs: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"span window must be >= 2 tokens, got $k")
    // codegen'd window hashing (r22): md5 over each k-shingle —
    // graftshim.WordShingles builds the windows (concat_ws " " slices,
    // identical order and null-skip) and graftshim.ArrayMd5 hashes
    // them; the pre-r22 nested transform lattice was two interpreted
    // lambdas per document on every span scan
    val windows = org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.ArrayMd5(
        org.apache.spark.sql.graftshim.ColumnShim.expression(
          TextOps.shingles(TextOps.tokens(col("text")), k))))
    docs
      .filter(col("text").isNotNull && size(TextOps.tokens(col("text"))) >= k)
      .select(col("doc_id"), posexplode(windows).as(Seq("i", "h")))
  }

  /** (doc_id, h) — the positional frame with the start dropped. */
  private def spanWindows(docs: DataFrame, k: Int): DataFrame =
    spanWindowsPos(docs, k).select(col("doc_id"), col("h"))

  def duplicateSpanStats(docs: DataFrame, k: Int = 12): DataFrame = {
    val w = spanWindows(docs, k)
    val crossDoc = w
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("__c"))
      .groupBy(col("h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") > 1)
      .select(col("h"), lit(1).as("__dup"))
    w.join(crossDoc, Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"), count(col("__dup")).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows").cast("double") / col("n_windows"), 6)
          .as("dup_fraction"))
  }

  /**
   * Top cross-document duplicated spans — the boilerplate report behind
   * a strip-list: the `topK` k-token window hashes appearing in the most
   * distinct documents (ties broken by total occurrences, then hash),
   * with an example document for each. [[duplicateSpanStats]] scores
   * documents by this signal; this operator names the spans themselves.
   *
   * Scale shape: the same two-level (hash, doc) → hash aggregation as
   * the stats operator — map-side partial on a uniform md5 key — then
   * TakeOrdered for the top-k (never a global sort; same discipline as
   * vocabTopK, asserted there).
   */
  def boilerplateSpans(docs: DataFrame, k: Int = 12, topK: Int = 50): DataFrame =
    spanWindows(docs, k)
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("__c"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("n_occurrences"),
        min(col("doc_id")).as("example_doc"))
      .filter(col("n_docs") > 1)
      .select(col("h").as("span_hash"), col("n_docs"), col("n_occurrences"),
        col("example_doc"))
      .orderBy(col("n_docs").desc, col("n_occurrences").desc, col("span_hash"))
      .limit(topK)

  /**
   * Boilerplate STRIP — the removal operator behind the span reports
   * (RefinedWeb/CCNet line-dedup, done at k-token-window granularity):
   * every token covered by a k-token window that appears in at least
   * `minDocs` distinct documents is removed, and each document is
   * summarized as (doc_id, n_tokens, n_kept, removed_frac,
   * clean_digest) where `clean_digest` is the md5 of the kept tokens
   * re-joined in order — the value-checkable stand-in for emitting the
   * cleaned text itself (the driver compare hashes cells, so a digest
   * pins the reconstruction exactly). Documents stripped to nothing
   * keep a row with n_kept 0 and the empty-string digest.
   *
   * Scale shape: the boilerplate set is the same two-level (hash, doc) →
   * hash aggregation as [[boilerplateSpans]] (map-side partial on a
   * uniform md5 key, no COUNT DISTINCT); coverage expands matched
   * windows to (doc, pos) pairs — output bounded by k × matched
   * windows, matched being the signal itself — and the kept-token pass
   * is one anti join at token grain plus a per-doc fold: everything is
   * linear in corpus tokens with equi-keyed shuffles, nothing pairwise.
   */
  def stripBoilerplate(docs: DataFrame, k: Int = 12,
                       minDocs: Int = 2): DataFrame = {
    // persisted: consumed by the boilerplate-set agg AND the coverage join
    val pw = graft.queries.SharedFrames.aux(spanWindowsPos(docs, k))
    val bset = pw
      .groupBy(col("h"), col("doc_id")).agg(count(lit(1)).as("__c"))
      .groupBy(col("h")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("h"))
    val cov = pw.join(bset, "h")
      .select(col("doc_id"),
        explode(sequence(col("i"), col("i") + (k - 1))).as("pos"))
      .distinct()
    val toks = docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "token")))
    val keptStats = toks
      .join(cov, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("__nk"),
        // codegen'd sorted-token join (r22, graftshim.PosTokenJoin):
        // array_sort's default comparator plans as an interpreted
        // lambda, and the getField transform was a second one
        md5(org.apache.spark.sql.graftshim.ColumnShim.column(
          org.apache.spark.sql.graftshim.PosTokenJoin(
            org.apache.spark.sql.graftshim.ColumnShim.expression(
              collect_list(struct(col("pos"), col("token"))))))).as("__digest"))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .join(keptStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("__nk"), lit(0L)).as("n_kept"),
        round(lit(1.0) - coalesce(col("__nk"), lit(0L)).cast("double")
          / col("n_tokens"), 6).as("removed_frac"),
        coalesce(col("__digest"), md5(lit(""))).as("clean_digest"))
  }

  /**
   * Incremental ingest dedup — the continuous-pipeline variant of the
   * batch operators: a NEW batch of documents arrives and each one must
   * be admitted, deduped, or linked against the EXISTING corpus without
   * re-deduplicating the corpus itself. One row per batch document:
   * (doc_id, verdict, match_id, jaccard) with verdict 'exact' (byte-
   * identical corpus text exists — match_id is the smallest such corpus
   * doc), 'near' (a corpus doc shares an LSH band and verifies at
   * jaccard ≥ threshold — match_id is the best match by (jaccard desc,
   * doc_id)), or 'new'. Within-batch duplicates are out of scope here
   * (run [[exact]]/[[nearDupMinhashLsh]] over the batch alone first);
   * the streaming twin is
   * [[graft.streaming.StreamingCuration]]'s ingest dedup.
   *
   * Scale shape — the batch is orders of magnitude smaller than the
   * corpus, and the corpus is NEVER shuffled: the batch's distinct
   * fingerprints and band keys BROADCAST, the corpus streams map-side
   * through the semi-joins, and only the matching slivers (corpus rows
   * whose fingerprint/bucket a batch doc touches) reach the tiny
   * aggregations — the [[decontaminate]] shape applied to dedup. The
   * bucket cap is measured over the TOUCHED buckets only (occupancy of
   * an untouched bucket is irrelevant to this batch), so the cap window
   * also runs on the sliver, not the corpus.
   *
   * @param isNew predicate splitting `docs` into the new batch (true)
   *              and the corpus (false); must reference only `doc_id`
   *              (it is applied to the derived shingle/signature frames,
   *              which carry no other docs column — id ranges and
   *              ingest-partition splits satisfy this)
   */
  def incremental(docs: DataFrame, isNew: org.apache.spark.sql.Column,
                  shingleWidth: Int = 3, k: Int = 8, bands: Int = 4,
                  threshold: Double = 0.5, maxBucketSize: Int = 1000,
                  sharedShingles: Option[DataFrame] = None,
                  sharedSignature: Option[DataFrame] = None): DataFrame = {
    require(k % bands == 0, s"signature width $k not divisible into $bands bands")
    // exact tier: batch fingerprints broadcast; corpus filtered map-side
    val newFp = docs.filter(isNew).select(col("doc_id"), md5(col("text")).as("__fp"))
    val exactHits = docs.filter(!isNew)
      .select(md5(col("text")).as("__fp"), col("doc_id"))
      .join(broadcast(newFp.select(col("__fp")).distinct()), "__fp")
      .groupBy(col("__fp")).agg(min(col("doc_id")).as("__exact_id"))
    // near tier: batch band keys broadcast against the corpus banding
    val shd = sharedShingles.map(requireWidth(_, shingleWidth)).getOrElse(
      graft.queries.SharedFrames.aux(shingleArrays(docs, shingleWidth)))
    val sig = sharedSignature.getOrElse(minhashSignature(shd, k))
    require(!sig.columns.contains(s"h$k") && sig.columns.contains(s"h${k - 1}"),
      s"shared signature frame does not have width $k")
    val banded = bandedKeys(sig, bands, k / bands)
    val nb = banded.filter(isNew)
      .select(col("doc_id").as("__nid"), col("band"), col("bkey"))
    // touched corpus bucket rows — persisted: the cap window and the
    // candidate join both consume this (small) sliver
    val cbm = graft.queries.SharedFrames.aux(
      banded.filter(!isNew)
        .join(broadcast(nb.select(col("band"), col("bkey")).distinct()),
          Seq("band", "bkey")))
    val capped = cbm
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bkey"))))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n")
    val cand = capped
      .join(broadcast(nb), Seq("band", "bkey"))
      .select(col("__nid").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
    val best = jaccardForPairs(cand, shd)
      .filter(col("jaccard") >= threshold)
      .groupBy(col("doc_a"))
      .agg(max(struct(round(col("jaccard"), 6).as("j"),
        (-col("doc_b")).as("nid"))).as("__b"))
      .select(col("doc_a").as("doc_id"),
        (-col("__b").getField("nid")).as("__near_id"),
        col("__b").getField("j").as("__j"))
    newFp
      .join(exactHits, Seq("__fp"), "left")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("__exact_id").isNotNull, lit("exact"))
          .when(col("__near_id").isNotNull, lit("near"))
          .otherwise(lit("new")).as("verdict"),
        coalesce(col("__exact_id"), col("__near_id")).as("match_id"),
        when(col("__exact_id").isNull, col("__j")).as("jaccard"))
  }

  /**
   * Near-duplicate CLUSTER resolution — the dedup endgame: pairwise
   * near-dup evidence (from any of the pair operators) is only half the
   * job; a pipeline must then group transitively-connected documents and
   * pick ONE canonical representative per group to keep. This computes
   * connected components over the pair graph: every clustered doc gets
   * `cluster_id` = the smallest doc_id reachable through near-dup edges,
   * plus the cluster size and an `is_canonical` flag (the doc a dedup
   * pass would keep). Documents with no near-dup edge are singletons and
   * are not emitted.
   *
   * The components come from alternating large-star/small-star
   * contraction (Kiveris et al., "Connected Components in MapReduce and
   * Beyond", SoCC '14): O(log n) rounds on ANY topology, including
   * adversarial long chains, with one groupBy + one equi-join per phase
   * (all hash shuffles on node id, never anything pairwise). It carries
   * only a per-round convergence check on the driver, never data, and
   * truncates lineage per round ([[starContraction]]). DedupSpec pins the
   * output against a union-find reference on seeded random graphs and the
   * O(log n) round count on a long chain.
   *
   * @param pairs near-dup pairs (doc_a, doc_b); doc_a < doc_b not required
   */
  def clusters(pairs: DataFrame, aCol: String = "doc_a",
               bCol: String = "doc_b"): DataFrame = {
    val labels = starLabels(pairs, aCol, bCol)
    // labels frame is checkpoint-backed and read twice (membership +
    // sizes); the registry memoizes the whole builder
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels
      .join(sizes, "cluster_id")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("cluster_id")).as("is_canonical"))
  }

  /**
   * Duplicate-cluster size histogram over a [[clusters]] frame — the
   * dup-inflation report a dedup pass ends with: one row per cluster
   * size with how many clusters have that size and how many documents
   * they tie up (`n_docs - n_clusters` summed over rows = documents a
   * keep-one-per-cluster policy deletes). Singletons never enter the
   * pair graph, so sizes start at 2.
   *
   * Scale shape: one map-side-partial shuffle on the tiny size key over
   * the already-resolved membership frame — the histogram is free
   * relative to the clustering that produced its input.
   */
  def clusterSizeHistogram(clusters: DataFrame): DataFrame =
    clusters
      .groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))

  /**
   * Alternating star contraction over a canonical (larger → smaller)
   * directed edge frame; returns the converged star edges — every
   * non-minimum node pointing directly at its component's minimum — and
   * the number of large+small rounds taken. Package-private so the spec
   * can assert the O(log n) round count directly.
   *
   * Per round: LARGE-STAR connects each node's larger neighbors to the
   * minimum of its closed neighborhood; SMALL-STAR connects each node
   * and its smaller neighbors to the smallest of them. Each phase is one
   * hash aggregation + one equi-join on node id; convergence is two
   * anti-join counts (edge set unchanged). Each round's edges are
   * localCheckpointed: the next round reads them several times, and a
   * plan that kept the whole round chain would grow per round until
   * Catalyst chokes on it (OOM on plan stringification) long before the
   * data does. A long-running cluster job would use reliable
   * checkpointing (executor loss kills localCheckpoint RDDs).
   */
  private[graft] def starContraction(canonical: DataFrame): (DataFrame, Int) = {
    var edges = canonical.localCheckpoint(true)
    var rounds = 0
    var done = edges.isEmpty
    while (!done) {
      rounds += 1
      // large-star over the symmetric adjacency
      val sym = edges.select(col("a").as("u"), col("b").as("v"))
        .union(edges.select(col("b").as("u"), col("a").as("v")))
      val mL = sym.groupBy(col("u")).agg(min(col("v")).as("__mn"))
        .select(col("u"), least(col("u"), col("__mn")).as("m"))
      val large = sym.join(mL, "u").filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b")).distinct()
      // small-star over large's (larger → smaller) edges: node u and its
      // smaller neighbors all attach to the smallest of them
      val mS = large.groupBy(col("a")).agg(min(col("b")).as("m"))
      val small = large.join(mS, "a").select(col("b").as("x"), col("m"))
        .union(mS.select(col("a").as("x"), col("m")))
        .filter(col("x") =!= col("m"))
        .select(col("x").as("a"), col("m").as("b")).distinct()
        .localCheckpoint(true)
      done = small.join(edges, Seq("a", "b"), "left_anti").isEmpty &&
        edges.join(small, Seq("a", "b"), "left_anti").isEmpty
      edges = small
    }
    (edges, rounds)
  }

  /** Star-contraction labels: (doc_id, cluster_id) for every node with
    * at least one edge — non-roots from their star edge, roots from the
    * distinct edge targets (at convergence every target IS a root). */
  private def starLabels(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val canonical = pairs
      .select(greatest(col(aCol), col(bCol)).as("a"),
        least(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val (star, _) = starContraction(canonical)
    star.select(col("a").as("doc_id"), col("b").as("cluster_id"))
      .union(star.select(col("b").as("doc_id"), col("b").as("cluster_id")))
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
  }

  /**
   * LSH bucket-occupancy audit — the skew observability a 100 TB dedup
   * run needs BEFORE committing to the pair join: per band, the bucket
   * count, occupancy totals, the largest bucket, the within-bucket
   * candidate-pair mass Σ n·(n−1)/2 (the actual join cost, quadratic in
   * bucket size), and how many buckets the `maxBucketSize` cap would
   * drop. A mass-duplicate class shows up here as one giant bucket — the
   * signal to collapse exact dups first or re-band — without running the
   * quadratic join to find out.
   *
   * Scale shape: the same banding projection the pair join uses, one
   * (band, bkey) hash aggregation with map-side partials, then a
   * `bands`-row rollup. Stats are computed over UNCAPPED buckets — the
   * cap's effect is what's being measured.
   */
  def lshBucketStats(signature: DataFrame, bands: Int, rowsPerBand: Int,
                     maxBucketSize: Int = 1000): DataFrame =
    bandedKeys(signature, bands, rowsPerBand)
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("__n")).as("n_rows"),
        max(col("__n")).as("max_bucket"),
        // integral `div`, not `/`: Divide casts to double and loses
        // exactness past 2^53 — a 1e9-row bucket's pair mass is ~5e17
        sum(expr("(__n * (__n - 1)) div 2")).as("candidate_pairs"),
        count(when(col("__n") > maxBucketSize, 1)).as("n_capped"))

  /**
   * LSH recall/precision audit — the QA gate a pipeline runs before
   * trusting a sketch: compare the MinHash-LSH pair set against the
   * exact-Jaccard pair set at the same threshold and report ONE summary
   * row (pair counts, recall, precision). Run on a sampled slice at
   * 100 TB — the exact side is the expensive one — to decide whether the
   * current (k, bands) still clears the recall bar before a full dedup
   * pass. Both rates are null when their denominator is zero.
   *
   * Scale shape: one full-outer equi-join of two post-threshold pair
   * lists (tiny relative to the corpus) and a single global aggregate.
   */
  def lshRecallAudit(lshPairs: DataFrame, exactPairs: DataFrame): DataFrame = {
    val l = lshPairs.select(col("doc_a"), col("doc_b"), lit(1).as("__l"))
    val x = exactPairs.select(col("doc_a"), col("doc_b"), lit(1).as("__x"))
    l.join(x, Seq("doc_a", "doc_b"), "full_outer")
      .agg(count(col("__x")).as("n_exact_pairs"),
        count(col("__l")).as("n_lsh_pairs"),
        count(when(col("__l").isNotNull && col("__x").isNotNull, 1))
          .as("n_common"))
      .select(col("n_exact_pairs"), col("n_lsh_pairs"), col("n_common"),
        when(col("n_exact_pairs") > 0,
          round(col("n_common").cast("double") / col("n_exact_pairs"), 6))
          .as("recall"),
        when(col("n_lsh_pairs") > 0,
          round(col("n_common").cast("double") / col("n_lsh_pairs"), 6))
          .as("precision"))
  }

  /**
   * Exact all-pairs n-gram Jaccard >= threshold via the shingle inverted
   * index (pairs sharing zero shingles are never materialized — their
   * jaccard is 0 and can't pass a positive threshold). Set sizes come
   * from the array column directly — no counting aggregation.
   *
   * Skew defense: the join's per-shingle cost is quadratic in document
   * frequency, so one boilerplate shingle appearing in 10^6 documents
   * produces 10^12 pairs. `maxShingleDf` drops shingles above the given
   * document frequency from the PAIRING side only (stop-shingle pruning,
   * the standard trade: a shingle in half the corpus identifies nothing).
   * Sizes and candidate jaccards still use the full sets, so reported
   * values stay exact; only pairs whose EVERY common shingle is a
   * stop-shingle can be missed. Off by default — the oracle replicates
   * the unpruned join.
   */
  def jaccardPairsExact(docs: DataFrame, shingleWidth: Int = 3,
                        threshold: Double = 0.5,
                        sharedShingles: Option[DataFrame] = None,
                        maxShingleDf: Option[Int] = None): DataFrame = {
    val shd = sharedShingles.map(requireWidth(_, shingleWidth)).getOrElse(
      graft.queries.SharedFrames.aux(shingleArrays(docs, shingleWidth)))
    val invAll = explodeShingles(shd)
    maxShingleDf match {
      case None =>
        // unpruned: count common shingles directly in the pairing join
        val sizes = shd.select(col("doc_id"), size(col("sh")).as("n"))
        val sa = invAll.alias("sa")
        val sb = invAll.alias("sb")
        val inter = sa
          .join(sb, col("sb.shingle") === col("sa.shingle") &&
            col("sa.doc_id") < col("sb.doc_id"))
          .groupBy(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(sizes.alias("za"), col("za.doc_id") === col("doc_a"))
          .join(sizes.alias("zb"), col("zb.doc_id") === col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            (col("inter").cast("double") /
              (col("za.n") + col("zb.n") - col("inter"))).as("j"))
          .filter(col("j") >= threshold)
          .select(col("doc_a"), col("doc_b"), round(col("j"), 6).as("jaccard"))
      case Some(cap) =>
        // pruned: stop-shingles only leave candidate GENERATION — the
        // jaccard of every surviving pair is recomputed from the full
        // arrays, so reported values stay exact
        // persisted: both self-join sides consume the window-filtered
        // index — without the cache the explode AND the corpus-wide
        // per-shingle DF window shuffle run twice (same pattern as
        // lshCandidates' banded frame)
        val inv = graft.queries.SharedFrames.aux(invAll
          .withColumn("__df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
          .filter(col("__df") <= cap)
          .drop("__df"))
        // Per-pair count of common KEPT shingles — the same shuffle the
        // obvious `.distinct()` would pay, but it buys the prefilter
        // below: with per-doc totals (__n) and kept counts (__k), the
        // exact intersection is bounded by
        //   __pi + min(stop_a, stop_b)      (stop_d = __n - __k)
        // which bounds jaccard from ABOVE. Dropping pairs whose bound
        // misses the threshold is output-neutral (a necessary
        // condition), and shrinks the expensive full-array recompute
        // from ALL candidates to the near-threshold few — profiled at
        // sf0.1: 1.13M candidates → 256 survivors, the recompute was
        // 4.6 of the query's 7.2 s.
        val pruned = inv.alias("sa")
          .join(inv.alias("sb"), col("sb.shingle") === col("sa.shingle") &&
            col("sa.doc_id") < col("sb.doc_id"))
          .groupBy(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
          .agg(count(lit(1)).as("__pi"))
        val stats = shd.select(col("doc_id"), size(col("sh")).as("__n"))
          .join(inv.groupBy(col("doc_id")).agg(count(lit(1)).as("__k")),
            Seq("doc_id"), "left")
          .select(col("doc_id"), col("__n"),
            (col("__n") - coalesce(col("__k"), lit(0L))).as("__stop"))
        val bounded = pruned
          .join(stats.alias("ba"), col("ba.doc_id") === col("doc_a"))
          .join(stats.alias("bb"), col("bb.doc_id") === col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            (col("__pi") + least(col("ba.__stop"), col("bb.__stop"))).as("__ub"),
            col("ba.__n").as("__na"), col("bb.__n").as("__nb"))
          .filter(col("__ub").cast("double") /
            (col("__na") + col("__nb") - col("__ub")) >= threshold)
          .select(col("doc_a"), col("doc_b"))
        jaccardForPairs(bounded, shd)
          .filter(col("jaccard") >= threshold)
          .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
    }
  }

  /**
   * Shingle CONTAINMENT pairs — the asymmetric near-dup measure Jaccard
   * misses: C(A→B) = |A∩B| / |A| is 1.0 whenever A's shingles all appear
   * in B, however much larger B is. A short document quoted whole inside
   * a long one scores jaccard |A|/|B| (arbitrarily small, never caught
   * by [[jaccardPairsExact]]/[[nearDupMinhashLsh]] at any sane
   * threshold) but containment 1.0 — the sub-document duplication a
   * curation pipeline wants to catch (syndicated excerpts, quoted posts,
   * boilerplate wrappers). One row per unordered pair with BOTH
   * directions: (doc_a, doc_b, containment_a_in_b, containment_b_in_a),
   * kept when either direction clears `threshold`.
   *
   * Scale shape: same df-capped inverted-index candidate generation as
   * the capped [[jaccardPairsExact]] (per-shingle pairing cost bounded
   * by `maxShingleDf`², never all-pairs), same output-neutral upper-
   * bound prefilter before the full-array recompute — here the bound is
   * (kept-common + min stop counts) / min(|A|,|B|), since
   * max(C(A→B), C(B→A)) = i / min(|A|,|B|). Containments are EXACT
   * (recomputed from the full arrays); only pairs whose every common
   * shingle is boilerplate can be missed — the trade the df cap makes.
   */
  def containmentPairs(docs: DataFrame, shingleWidth: Int = 3,
                       threshold: Double = 0.8, maxShingleDf: Int = 100,
                       sharedShingles: Option[DataFrame] = None): DataFrame = {
    val shd = sharedShingles.map(requireWidth(_, shingleWidth)).getOrElse(
      graft.queries.SharedFrames.aux(shingleArrays(docs, shingleWidth)))
    // persisted: both self-join sides consume the df-capped index (same
    // pattern as the capped jaccard's inv frame)
    val inv = graft.queries.SharedFrames.aux(explodeShingles(shd)
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shingle"))))
      .filter(col("__df") <= maxShingleDf)
      .drop("__df"))
    val pruned = inv.alias("sa")
      .join(inv.alias("sb"), col("sb.shingle") === col("sa.shingle") &&
        col("sa.doc_id") < col("sb.doc_id"))
      .groupBy(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("__pi"))
    val stats = shd.select(col("doc_id"), size(col("sh")).as("__n"))
      .join(inv.groupBy(col("doc_id")).agg(count(lit(1)).as("__k")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("__n"),
        (col("__n") - coalesce(col("__k"), lit(0L))).as("__stop"))
    val bounded = pruned
      .join(stats.alias("ba"), col("ba.doc_id") === col("doc_a"))
      .join(stats.alias("bb"), col("bb.doc_id") === col("doc_b"))
      .filter((col("__pi") + least(col("ba.__stop"), col("bb.__stop")))
        .cast("double") / least(col("ba.__n"), col("bb.__n")) >= threshold)
      .select(col("doc_a"), col("doc_b"))
    val sa = shd.select(col("doc_id").as("__ida"), col("sh").as("__sha"))
    val sb = shd.select(col("doc_id").as("__idb"), col("sh").as("__shb"))
    bounded
      .join(sa, col("__ida") === col("doc_a"))
      .join(sb, col("__idb") === col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("__sha"), col("__shb")))
          .cast("double").as("__i"),
        size(col("__sha")).as("__na"), size(col("__shb")).as("__nb"))
      .filter(greatest(col("__i") / col("__na"), col("__i") / col("__nb"))
        >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("__i") / col("__na"), 6).as("containment_a_in_b"),
        round(col("__i") / col("__nb"), 6).as("containment_b_in_a"))
  }
}
