package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Approximate-nearest-neighbor search over an embedding column
 * (`embeddings(vec_id, embedding ARRAY<FLOAT>, label)`):
 *
 *  - [[bruteForceTopK]]: exact cosine top-k — the correctness baseline.
 *    Broadcasts the (small) query set against the corpus; the corpus side
 *    streams, never shuffles. Linear in corpus size — fine as a baseline
 *    and for oracle checks, not the 100 TB path.
 *  - [[lshTopK]]: random-hyperplane LSH — the scale path. Each vector
 *    hashes to `tables` sign-bit bucket keys; candidates are generated by
 *    an equi-join on (table, bucket) — a hash shuffle, no all-pairs work —
 *    then re-ranked with exact cosine. Recall tunes via (bits, tables).
 *
 * Vectors are cast float→double before any arithmetic so both engines do
 * IEEE double math; cosines are rounded to 6 dp and ranked by
 * (rounded cosine, vec_id) to keep ordering engine-portable.
 */
object Similarity {

  /** Σ aᵢ·bᵢ over two double-array columns — a native codegen'd Catalyst
    * expression ([[org.apache.spark.sql.graftshim.DotProduct]]) with the
    * same left-to-right accumulation as the `aggregate(zip_with(...))`
    * fold it replaced (~100× less per-pair overhead; bit-equal results on
    * equal-length inputs — the only case the operators produce). Where the
    * fold returned NULL on length-mismatched arrays (zip_with null-pads),
    * this sums over the SHORTER PREFIX (semantics pinned in
    * VectorFunctionsSpec); null elements still poison to null. */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.dotp(a, b)

  private def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity of two double-array columns. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))

  /** float[] → double[] as ONE native array Cast (per-element widening,
    * value-identical to a per-element transform). A `transform(_,
    * _.cast)` lambda is a CodegenFallback higher-order function — in a
    * collapsed projection every operator referencing `v` re-ran the
    * lambda interpreter per row, which (not the quantization math) was
    * the streaming codes job's real per-row wall. */
  private def asDouble(emb: Column): Column = emb.cast("array<double>")

  /** (vec_id, v, nrm): cast vectors with the L2 norm computed ONCE per
    * vector. Pair scoring divides by the stored norms — the per-pair
    * value dot/(nrm_a·nrm_b) is bit-identical to folding the norms
    * inline, but a corpus of n vectors evaluates n norm folds instead of
    * one per candidate pair: at 100 TB that is O(corpus) vs O(pairs)
    * vector traversals. */
  private def withNorm(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))

  /** Embedding width from the first row; -1 for an empty corpus. */
  private def embeddingDim(e: DataFrame): Int = {
    val row = e.select(size(col("v"))).limit(1).collect()
    if (row.isEmpty) -1 else row(0).getInt(0)
  }

  /**
   * Exact top-k cosine neighbors for the query set `vec_id < nQueries`
   * (self excluded). Output (query_id, neighbor_id, cosine, rank).
   */
  def bruteForceTopK(embeddings: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val e = withNorm(embeddings)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("qv"), col("v")) / (col("qnrm") * col("nrm")), 6).as("cosine"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /**
   * k-NN label audit — the embedding-space label-quality signal: each
   * query vector's label is predicted by majority vote over its `k`
   * nearest neighbors' labels (ties to the smaller label id) and
   * compared with its actual label. Disagreements flag candidate
   * mislabels / class-boundary outliers — the audit a pipeline runs over
   * a labeled embedding corpus before training on it.
   *
   * Scale shape: the neighbor frame is the query-set-bounded top-k
   * ([[bruteForceTopK]] here, swappable for [[lshTopK]]/[[ivfHashTopK]]
   * output at scale since all three share the (query_id, neighbor_id,
   * rank) shape); the label join is a broadcast of the corpus id→label
   * projection against k·nQueries rows, and the vote is a tiny two-level
   * aggregation.
   */
  def knnLabelAudit(embeddings: DataFrame, nQueries: Int, k: Int,
                    neighbors: Option[DataFrame] = None): DataFrame = {
    val nb = neighbors.getOrElse(bruteForceTopK(embeddings, nQueries, k))
    val labels = embeddings.select(col("vec_id"), col("label"))
    val votes = nb
      .join(labels.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
      .groupBy(col("query_id"), col("label"))
      .agg(count(lit(1)).as("n_votes"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("n_votes").desc, col("label"))))
      .filter(col("__r") === 1)
      .select(col("query_id"), col("label").as("predicted_label"),
        col("n_votes"))
    votes
      .join(labels.withColumnRenamed("vec_id", "query_id")
        .withColumnRenamed("label", "true_label"), "query_id")
      .select(col("query_id"), col("true_label"), col("predicted_label"),
        col("n_votes"),
        (col("predicted_label") === col("true_label")).as("agree"))
  }

  /**
   * Deterministic Gaussian hyperplanes: `tables` tables × `bits` planes
   * × dim coordinates, from a fixed-seed PRNG (no Date/entropy — resumes
   * and oracle runs must see identical planes).
   */
  private[similarity] def hyperplanes(tables: Int, bits: Int, dim: Int,
                                      seed: Long): Seq[Seq[Seq[Double]]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables)(Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian())))
  }

  /** (vec_id, table, bucket) — one sign-bit bucket key per table. Only
    * ids and keys: the vectors are fetched by id after candidate dedup,
    * so the bucket shuffle never carries `tables` copies of each vector. */
  private[similarity] def bucketed(e: DataFrame, planes: Seq[Seq[Seq[Double]]]): DataFrame = {
    val tableKeys = planes.zipWithIndex.map { case (tablePlanes, t) =>
      val bitCols = tablePlanes.map { plane =>
        val p = array(plane.map(lit): _*)
        when(dot(col("v"), p) > 0, "1").otherwise("0")
      }
      struct(lit(t).as("table"), concat(bitCols: _*).as("bucket"))
    }
    e.select(col("vec_id"), explode(array(tableKeys: _*)).as("tb"))
      .select(col("vec_id"), col("tb.table").as("table"),
        col("tb.bucket").as("bucket"))
  }

  /**
   * Embedding-cosine near-duplicate pairs — the vector-space member of the
   * dedup family: all pairs with cosine ≥ threshold, found via
   * **coordinate-sign LSH** (table t's bucket key is the sign pattern of
   * dims [t·bits, (t+1)·bits)), then exact-cosine verified. Candidates
   * come from an equi-join on (table, bucket) — a hash shuffle, never an
   * all-pairs product — so cost is corpus-linear plus within-bucket pairs;
   * `bits` tunes bucket occupancy (more bits → smaller buckets) and
   * `tables·bits ≤ dim`. Recall is that of any sign-LSH: a pair agreeing
   * on cosine θ shares one dim's sign w.p. 1 − θ/π, so true near-dups
   * (cosine ≥ 0.9 → ≈ 0.86^bits per table) are found with high
   * probability while distant pairs rarely collide. Deterministic — no
   * random planes — so the DuckDB oracle replicates the identical buckets
   * and the operator is value-checkable end to end.
   *
   * Skew defense: real embedding distributions have correlated dims, so a
   * few sign patterns can swallow a large corpus fraction and make the
   * within-bucket pair count quadratic again. Buckets larger than
   * `maxBucketSize` are dropped before the pair join (the standard
   * LSH-dedup trade: an over-full bucket contributes pairs that are mostly
   * NOT near-dups anyway; raise bits or add tables to recover recall).
   * The cap is part of the declared algorithm and the oracle replicates it.
   */
  def signLshNearDupPairs(embeddings: DataFrame, threshold: Double,
                          bits: Int = 8, tables: Int = 8,
                          maxBucketSize: Int = 1000): DataFrame = {
    val e = withNorm(embeddings)
    // beyond-length element_at would silently yield NULL sign bits → every
    // vector in one bucket → the all-pairs blow-up this operator exists to
    // avoid; fail loudly instead
    val dim = embeddingDim(e)
    require(dim < 0 || bits * tables <= dim,
      s"bits*tables = ${bits * tables} exceeds embedding dim $dim")
    val tableKeys = signBucketKeys(bits, tables)
    // ids + keys only through the explode/window/self-join (vectors would
    // otherwise ride the shuffle `tables` times over); persisted because
    // both self-join sides and the bucket-size window consume it. The
    // cache entry lives until the session drops it (Spark has no
    // plan-scoped unpersist) — callers invoking this repeatedly in one
    // session should spark.catalog.clearCache() between runs
    val buckets = e
      .select(col("vec_id"), explode(array(tableKeys: _*)).as("tb"))
      .select(col("vec_id"), col("tb.table").as("table"),
        col("tb.bucket").as("bucket"))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("table"), col("bucket"))))
      .filter(col("__n") <= maxBucketSize)
      .drop("__n")
      .transform(graft.queries.SharedFrames.aux(_))
    val cand = buckets.alias("a")
      .join(buckets.alias("b"),
        col("a.table") === col("b.table") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .dropDuplicates("vec_a", "vec_b")
    val ea = e.select(col("vec_id").as("__ida"), col("v").as("va"), col("nrm").as("na"))
    val eb = e.select(col("vec_id").as("__idb"), col("v").as("vb"), col("nrm").as("nb"))
    cand
      .join(ea, col("__ida") === col("vec_a"))
      .join(eb, col("__idb") === col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The coordinate-sign LSH bucket keys over the cast vector column `v`
    * — one (table, bucket) struct per table — shared by
    * [[signLshNearDupPairs]] and [[semanticDecontaminate]] so both sides
    * of any cross-frame bucket join hash identically. */
  private def signBucketKeys(bits: Int, tables: Int): Seq[Column] = {
    // one codegen'd SignBuckets node (subexpression-eliminated across
    // the per-table references) instead of a bits·tables when/concat
    // tree — the tree pushed decontaminate_semantic past the HotSpot
    // JIT ceiling (CodegenAudit); bucket values identical, including
    // the out-of-range/null → '0' edge
    // coalesce to an empty array: the when/element_at tree this replaced
    // bucketed a NULL embedding as all-'0' strings (element_at(null) →
    // null → otherwise '0'), and the dedup_embedding oracle's CASE
    // models exactly that — an empty array reads every index
    // out-of-range → '0', reproducing it
    val sb = graft.functions.VectorFunctions.signBuckets(
      coalesce(col("v"), typedLit(Seq.empty[Double])),
      lit(bits), lit(tables))
    (0 until tables).map(t =>
      struct(lit(t).as("table"), element_at(sb, t + 1).as("bucket")))
  }

  /**
   * Embedding-space decontamination — the semantic sibling of
   * [[graft.text.Dedup.decontaminate]]: flag every corpus vector whose
   * cosine to ANY eval-set vector reaches `threshold`, catching the
   * paraphrased benchmark leakage n-gram overlap misses. Output one row
   * per contaminated corpus vector: (vec_id, n_contaminants,
   * contaminant_id, cosine) with the best match by (cosine desc, eval id
   * desc — the lexicographic struct max) and the count of eval vectors
   * hit.
   *
   * Scale shape — the eval set is orders of magnitude smaller than the
   * corpus, and the corpus is never shuffled for candidate generation:
   * both sides hash into the same coordinate-sign LSH buckets
   * ([[signBucketKeys]]), the eval side's (table, bucket) keys BROADCAST,
   * and the corpus streams map-side through the bucket join. Only the
   * matching sliver reaches the exact-cosine verify (its vector fetch is
   * an equi-join the optimizer sizes — at real scale the sliver is tiny
   * and AQE broadcasts it against the corpus side) and the per-vector
   * aggregation. Recall tunes via (bits, tables) exactly as in the
   * near-dup pair operator.
   */
  def semanticDecontaminate(embeddings: DataFrame, isEval: Column,
                            threshold: Double,
                            bits: Int = 8, tables: Int = 8): DataFrame = {
    val e = withNorm(embeddings)
    val dim = embeddingDim(e)
    require(dim < 0 || bits * tables <= dim,
      s"bits*tables = ${bits * tables} exceeds embedding dim $dim")
    val buckets = e
      .select(col("vec_id"), explode(array(signBucketKeys(bits, tables): _*)).as("tb"))
      .select(col("vec_id"), col("tb.table").as("table"),
        col("tb.bucket").as("bucket"))
    val evalKeys = buckets.filter(isEval)
      .select(col("vec_id").as("__eid"), col("table"), col("bucket"))
    val cand = buckets.filter(!isEval)
      .join(broadcast(evalKeys), Seq("table", "bucket"))
      .select(col("vec_id"), col("__eid"))
      .dropDuplicates("vec_id", "__eid")
    val corpusVec = e.select(col("vec_id"), col("v").as("cv"), col("nrm").as("cn"))
    val evalVec = e.filter(isEval)
      .select(col("vec_id").as("__eid"), col("v").as("ev"), col("nrm").as("en"))
    cand
      .join(corpusVec, "vec_id")
      .join(broadcast(evalVec), "__eid")
      .select(col("vec_id"), col("__eid"),
        round(dot(col("cv"), col("ev")) / (col("cn") * col("en")), 6).as("__cos"))
      .filter(col("__cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_contaminants"),
        max(struct(col("__cos").as("cosine"), col("__eid").as("contaminant_id")))
          .as("__best"))
      .select(col("vec_id"), col("n_contaminants"),
        col("__best.contaminant_id").as("contaminant_id"),
        col("__best.cosine").as("cosine"))
  }

  /**
   * The STATELESS form of [[semanticDecontaminate]] — the same
   * bucket-candidate → exact-cosine-verify semantics folded entirely
   * into per-row expressions, so it runs unchanged on a STREAMING frame:
   * no join, no aggregation, no watermark and no state, every
   * microbatch a pure projection (append-safe by construction, output
   * rows ≤ input rows, nothing to GC), row-for-row equal to the batch
   * operator across microbatch boundaries (StreamingCurationSpec).
   * The eval set collects to the driver ONCE — (table:bucket) → eval-id
   * map plus id → (vector, norm) maps, folded into the plan as literals
   * (the centroid/LUT contract: eval sets are benchmark-sized, orders of
   * magnitude below any corpus) — and each arriving vector probes the
   * bucket map with its own sign-LSH keys, scores the candidate sliver
   * with the SAME codegen'd dot product against literal vectors, and
   * reduces to (n_contaminants, best match) with array higher-order
   * functions.
   *
   * Value parity with the batch operator is exact, not approximate: the
   * eval-side vectors/norms are collected from the identical `withNorm`
   * computation the batch join reads, the bucket keys replicate
   * [[signBucketKeys]] bit-for-bit on the driver, and the lexicographic
   * `array_max` over (cosine, id) structs is the same tie rule as the
   * batch `max(struct(...))` — asserted row-for-row in SimilaritySpec.
   *
   * EVERY corpus row is scored — the two frames' `vec_id` spaces are
   * independent, so nothing is excluded by id (a stream row that merely
   * shares an id with an eval vector must still be checked). When both
   * sides derive from ONE frame (the batch operator's isEval split),
   * filter the eval rows out of `corpus` yourself. Corpus vectors
   * narrower than `bits*tables` fail the job loudly (`raise_error`)
   * instead of silently hashing missing coordinates to '0' bits — the
   * stream-side twin of the batch dim guard.
   */
  def semanticDecontaminateStateless(corpus: DataFrame, evalVectors: DataFrame,
                                     threshold: Double, bits: Int = 8,
                                     tables: Int = 8): DataFrame = {
    val c = withNorm(corpus)
    val empty = c.select(col("vec_id"), lit(0L).as("n_contaminants"),
      lit(0L).as("contaminant_id"), lit(0.0).as("cosine")).filter(lit(false))
    val evals = withNorm(evalVectors)
      .select(col("vec_id"), col("v"), col("nrm")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    if (evals.isEmpty) return empty
    val dim = evals.head._2.length
    require(bits * tables <= dim,
      s"bits*tables = ${bits * tables} exceeds embedding dim $dim")
    // driver-side replica of signBucketKeys: bit i of table t is
    // v[t*bits+i] > 0 — on the same cast doubles the batch path hashes
    def bucketOf(v: Seq[Double], t: Int): String =
      (0 until bits).map(i => if (v(t * bits + i) > 0) "1" else "0").mkString
    val bucketMap = typedLit(
      evals.flatMap { case (id, v, _) =>
        (0 until tables).map(t => (s"$t:${bucketOf(v, t)}", id))
      }.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sorted.toSeq })
    val vecMap = typedLit(evals.map { case (id, v, _) => id -> v }.toMap)
    val nrmMap = typedLit(evals.map { case (id, _, n) => id -> n }.toMap)
    val noHit = typedLit(Seq.empty[Long])
    val keys = (0 until tables).map { t =>
      concat(lit(s"$t:"), concat((0 until bits).map(i =>
        when(element_at(col("v"), t * bits + i + 1) > 0, "1")
          .otherwise("0")): _*))
    }
    // dim guard woven into the FIRST live key expression (a detached
    // assert column would be pruned): a too-narrow vector fails the job
    // instead of silently probing '0'-padded buckets
    val guardedKey0 = when(size(col("v")) < bits * tables,
      raise_error(concat(lit("embedding dim "), size(col("v")).cast("string"),
        lit(s" < bits*tables = ${bits * tables}")))).otherwise(keys.head)
    val cands = array_distinct(flatten(array((guardedKey0 +: keys.tail).map(k =>
      coalesce(element_at(bucketMap, k), noHit)): _*)))
    val hits = filter(
      transform(cands, eid => struct(
        round(dot(col("v"), element_at(vecMap, eid))
          / (col("nrm") * element_at(nrmMap, eid)), 6).as("cosine"),
        eid.as("contaminant_id"))),
      s => s.getField("cosine") >= threshold)
    c.withColumn("__hits", hits)
      .filter(size(col("__hits")) > 0)
      .select(col("vec_id"),
        size(col("__hits")).cast("long").as("n_contaminants"),
        array_max(col("__hits")).getField("contaminant_id").as("contaminant_id"),
        array_max(col("__hits")).getField("cosine").as("cosine"))
  }

  /**
   * Static eval-side bucket index for [[semanticDecontaminateFlags]]:
   * one row per (table, bucket) key of each eval vector, the vector and
   * its norm carried so the exact-cosine verify reads them off the
   * joined row. Same deterministic coordinate-sign keys as the whole
   * sign-LSH family. Returned UNPERSISTED — the caller owns the cache:
   * the stream-static join of [[semanticDecontaminateFlags]] re-plans
   * its static side every microbatch, so a long-running stream should
   * persist it (the [[graft.streaming.StreamingCuration.benchShingleIndex]]
   * rule for the n-gram flagger's join).
   */
  def evalBucketIndex(evalVectors: DataFrame, bits: Int = 8,
                      tables: Int = 8): DataFrame = {
    val e = withNorm(evalVectors)
    val dim = embeddingDim(e)
    require(dim == -1 || bits * tables <= dim,
      s"bits*tables = ${bits * tables} exceeds eval embedding dim $dim")
    val keys = (0 until tables).map { t =>
      struct(lit(t).as("table"),
        concat((0 until bits).map(i =>
          when(element_at(col("v"), t * bits + i + 1) > 0, "1")
            .otherwise("0")): _*).as("bucket"))
    }
    e.select(col("vec_id").as("eval_id"), col("v").as("eval_v"),
        col("nrm").as("eval_nrm"), explode(array(keys: _*)).as("tb"))
      .select(col("eval_id"), col("tb.table").as("table"),
        col("tb.bucket").as("bucket"), col("eval_v"), col("eval_nrm"))
  }

  /**
   * Streaming semantic decontamination at EVAL-SUITE scale — the
   * broadcast-table sibling of [[semanticDecontaminateStateless]] (the
   * same relationship as the LUT-table ADC forms to their literal
   * twins): the stateless form folds every eval vector into the plan as
   * map literals — right for benchmark-sized suites, plan growth linear
   * in the suite — while here the eval side travels as a BROADCAST
   * [[evalBucketIndex]] frame and the plan carries only the constant
   * sign-key projection. Candidates come from a stream-static equi join
   * on (table, bucket), are exact-cosine verified on the joined row
   * (the same 6-dp round-before-compare), and collapse to one
   * (vec_id, `timeCol`) FLAG row per contaminated vector via
   * watermark-bounded dedup (a vector can match several eval vectors
   * through several buckets). The flagged-id set equals the stateless form's for
   * the same (eval, bits, tables, threshold) — pinned, with the
   * plan-size bound, in StreamingCurationSpec.
   *
   * (The per-doc best-match/count columns of the stateless form need a
   * per-doc aggregation — delayed emission — and the flag is what gates
   * ingestion; run the batch [[semanticDecontaminate]] for the audit
   * report, exactly as the n-gram flagger documents.)
   *
   * @param evalIndex an [[evalBucketIndex]] built with the SAME
   *                  (bits, tables); caller-persisted for multi-batch
   *                  streams
   */
  def semanticDecontaminateFlags(embStream: DataFrame, evalIndex: DataFrame,
                                 threshold: Double, bits: Int = 8,
                                 tables: Int = 8,
                                 timeCol: String = "ingest_time",
                                 watermarkDelay: String = "10 seconds")
      : DataFrame = {
    val keys = (0 until tables).map { t =>
      struct(lit(t).as("table"),
        concat((0 until bits).map(i =>
          when(element_at(col("v"), t * bits + i + 1) > 0, "1")
            .otherwise("0")): _*).as("bucket"))
    }
    // dim guard woven into the first key (the stateless form's idiom): a
    // too-narrow vector fails the job, never probes '0'-padded buckets
    val guarded = when(size(col("v")) < bits * tables,
      raise_error(concat(lit("embedding dim "), size(col("v")).cast("string"),
        lit(s" < bits*tables = ${bits * tables}"))))
      .otherwise(keys.head) +: keys.tail
    // watermark BEFORE the join: clean vectors emit zero join rows, so a
    // post-join watermark would never advance on a clean stream and the
    // per-vec dedup state would grow forever — the watermark must see
    // every arriving vector
    embStream
      .withWatermark(timeCol, watermarkDelay)
      .select(col("vec_id"), col(timeCol),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), col(timeCol), col("v"), col("nrm"),
        explode(array(guarded: _*)).as("tb"))
      .select(col("vec_id"), col(timeCol), col("v"), col("nrm"),
        col("tb.table").as("table"), col("tb.bucket").as("bucket"))
      .join(broadcast(evalIndex), Seq("table", "bucket"))
      .filter(round(dot(col("v"), col("eval_v"))
        / (col("nrm") * col("eval_nrm")), 6) >= threshold)
      .select(col("vec_id"), col(timeCol))
      .dropDuplicatesWithinWatermark(Seq("vec_id"))
  }

  /**
   * Streaming SemDeDup admission flags — the embedding-space sibling of
   * the MinHash ingest dedup and of [[semanticDecontaminateFlags]]: each
   * arriving vector is flagged iff some CORPUS vector in its trained
   * cell reaches `threshold`, so a continuous ingest can route semantic
   * near-duplicates away from the landed corpus the way
   * [[graft.text.Dedup.incremental]] routes textual ones — the same dup
   * criterion as
   * [[semanticDedupIncremental]], whose 'dup' rows this flag set must
   * equal over the same split (pinned in StreamingCurationSpec).
   *
   * Streaming shape: the arrival assigns map-side over the SAME
   * plan-literal centroids as the batch form (one typedLit node — safe
   * to re-analyze per microbatch), then ONE stream-static equi-join on
   * the cell key against the corpus assignment — the static side prunes
   * to the batch's touched cells (directory-level at a cell-partitioned
   * layout), and the only state is the watermark-bounded per-vec flag
   * dedup ([[semanticDecontaminateFlags]]' note applies verbatim: the
   * watermark is set BEFORE the join because a clean stream emits zero
   * join rows). The best-match id is NOT emitted — within a microbatch
   * `dropDuplicatesWithinWatermark` keeps an arbitrary qualifying row,
   * so only the (deterministic) flagged-id set is contract; a caller
   * needing the ranked match runs the batch operator over the landed
   * rows.
   *
   * @param corpus static (vec_id, embedding) frame — caller-persisted
   *               for multi-batch streams
   * @param cells  the frozen trained centroids ([[ivfCells]]); sharing
   *               them with the batch operator is what makes the parity
   *               hold
   */
  def semanticDedupFlags(embStream: DataFrame, corpus: DataFrame,
                         cells: Array[(Long, Seq[Double], Double)],
                         threshold: Double, maxCellSize: Int = 4096,
                         timeCol: String = "ingest_time",
                         watermarkDelay: String = "10 seconds"): DataFrame = {
    require(cells.nonEmpty, "semanticDedupFlags needs a trained quantizer")
    val corpusAsg = {
      val a = withNorm(corpus).select(col("vec_id").as("corpus_id"),
        col("v").as("c_v"), col("nrm").as("c_nrm"),
        nearestCell(cells).as("cell"))
      a.withColumn("__n", count(lit(1)).over(Window.partitionBy(col("cell"))))
        .filter(col("__n") <= maxCellSize)
        .select(col("corpus_id"), col("c_v"), col("c_nrm"), col("cell"))
    }
    val den = col("nrm") * col("c_nrm")
    embStream
      .withWatermark(timeCol, watermarkDelay)
      .select(col("vec_id"), col(timeCol),
        asDouble(col("embedding")).as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("cell", nearestCell(cells))
      .join(corpusAsg, Seq("cell"))
      .filter(when(den =!= 0,
        round(dot(col("v"), col("c_v")) / den, 6)).geq(threshold))
      .select(col("vec_id"), col(timeCol), col("cell"))
      .dropDuplicatesWithinWatermark(Seq("vec_id"))
  }

  /**
   * Per-label embedding centroids in LONG form — one row per (label, dim)
   * with the coordinate mean — plus the class count and mean vector norm:
   * the class-balance / drift-monitoring statistics a training pipeline
   * computes over an embedded corpus (and the inputs to centroid-based
   * sampling or Mahalanobis-style outlier pruning).
   *
   * Scale shape: posexplode fans each vector into (dim, value) rows —
   * purely narrow — then ONE hash shuffle on the tiny (label, dim) key
   * space with map-side partial sums; output is |labels| × dim rows no
   * matter the corpus size. Means are rounded to 6 dp so the driver's
   * DuckDB comparison is robust to summation-order ulps.
   */
  def labelCentroids(embeddings: DataFrame): DataFrame = {
    val e = embeddings
      .select(col("label"), asDouble(col("embedding")).as("v"))
      .select(col("label"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
    e.select(col("label"), col("nrm"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg(col("x")), 6).as("centroid"),
        round(avg(col("nrm")), 6).as("mean_norm"))
  }

  /**
   * Snapshot-to-snapshot embedding DRIFT monitor — the audit a pipeline
   * runs when a new encoder checkpoint (or a new ingest cohort) lands
   * before mixing its vectors into a serving corpus: per DIMENSION, the
   * old/new snapshot means and standard deviations and the standardized
   * mean shift |Δmean| / (std_old + ε) — the per-coordinate z-shift
   * whose spikes flag a changed encoder, a broken normalization, or a
   * population swing long before cosine rankings visibly degrade
   * (labels/norm profiles catch per-class collapse; this catches
   * COORDINATE-level distribution movement).
   *
   * MULTI-GENERATION CONTRACT (r17 verdict ask #6): the monitor reads
   * drift RELATIVE TO THE CURRENT SNAPSHOT, and a retrain that absorbs
   * a shifted cohort turns the "old" side into the base∪cohort MIXTURE
   * (inflated per-dim std where the cohort moved). Three cases follow,
   * all pinned in SimilaritySpec:
   *
   *  1. REPEATED same-delta drift on an absorbed axis: `mean_shift_z`
   *     collapses (measured z 4.2 → 1.4 at generation 2 on a repeated
   *     band — the lifecycle drill; `Embeddings.freshShifted`'s
   *     `dimOffset` exists to drill fresh axes instead). This is
   *     absorption working as designed — the snapshot genuinely serves
   *     the drifted region (recall recovers, r15 ladder) — NOT a missed
   *     alarm; nothing in this report should or does re-fire.
   *  2. PROGRESSIVE drift (the mean keeps moving): z re-fires — each
   *     generation's reading is against the new mixture, so a further
   *     move clears the threshold again (the lifecycle drill's growing
   *     delta is exactly this regime).
   *  3. AXIS-ALIGNED SPREAD GROWTH (a population widening on some dims
   *     with the mean in place — e.g. an encoder losing normalization):
   *     invisible to `mean_shift_z` by construction; the `std_ratio`
   *     column (std_new / std_old from the same rounded components)
   *     fires on exactly the grown dims. Alert on either column.
   *
   * Engine-portable arithmetic: means/stds round to 6 dp FIRST and the
   * shift/ratio are computed from the ROUNDED components (one IEEE
   * divide + abs — std is sqrt-valued, so the 7th-digit half-ties the
   * µ-int rule guards against are measure-zero here), so the DuckDB
   * oracle reproduces every cell. Scale shape: one posexplode fan-out
   * (narrow) and ONE hash shuffle on the tiny dim key — |dims| output
   * rows at any corpus size, the [[labelCentroids]] shape keyed by
   * snapshot instead of label.
   */
  def embeddingDrift(embeddings: DataFrame, isNew: Column,
                     eps: Double = 1e-6,
                     expectedDim: Option[Int] = None): DataFrame = {
    // null embeddings are excluded EXPLICITLY (posexplode would drop
    // them silently while a relational oracle's dim fan-out keeps them —
    // the filter makes both engines count the same rows); `isNew` must
    // be two-valued and non-null (the registered vec_id % 2 split is)
    // expectedDim: the monitor itself adapts to any width via
    // posexplode, but a caller whose ORACLE fans out a fixed dim count
    // pins it here so a drifted corpus fails loudly instead of as an
    // opaque value mismatch (ADVICE r12; the lshTopK expectedDim rule)
    expectedDim.foreach { d =>
      val dataDim = embeddingDim(
        embeddings.filter(col("embedding").isNotNull)
          .select(col("vec_id"), asDouble(col("embedding")).as("v")))
      require(dataDim < 0 || dataDim == d,
        s"corpus embedding dim $dataDim != configured dim $d — regenerate " +
          "the drift oracle (Similarity.embeddingDriftOracleSql) for this corpus")
    }
    val e = embeddings
      .filter(col("embedding").isNotNull)
      .select(isNew.cast("int").as("snap"), asDouble(col("embedding")).as("v"))
      .select(col("snap"), posexplode(col("v")).as(Seq("dim", "x")))
    e.groupBy(col("dim"))
      .agg(
        count(when(col("snap") === 0, 1)).as("n_old"),
        count(when(col("snap") === 1, 1)).as("n_new"),
        round(avg(when(col("snap") === 0, col("x"))), 6).as("mean_old"),
        round(avg(when(col("snap") === 1, col("x"))), 6).as("mean_new"),
        round(stddev_samp(when(col("snap") === 0, col("x"))), 6).as("std_old"),
        round(stddev_samp(when(col("snap") === 1, col("x"))), 6).as("std_new"))
      .select(col("dim"), col("n_old"), col("n_new"),
        col("mean_old"), col("mean_new"), col("std_old"), col("std_new"),
        round(abs(col("mean_new") - col("mean_old"))
          / (col("std_old") + lit(eps)), 6).as("mean_shift_z"),
        round(col("std_new") / (col("std_old") + lit(eps)), 6)
          .as("std_ratio"))
  }

  /** DuckDB oracle replicating [[embeddingDrift]] for the registered
    * `vec_id % 2 = 0` new-snapshot split: same 6-dp-rounded components,
    * same rounded-components shift formula. `dim` must match the corpus
    * width (the rpOracleSql convention — the Spark side pins it via
    * `expectedDim`, so a drifted corpus fails there, not here). */
  def embeddingDriftOracleSql(eps: Double = 1e-6, dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id,
       |  CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS snap,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |x AS (SELECT snap, CAST(i AS INT) AS dim, v[i+1] AS x
       |  FROM e CROSS JOIN (SELECT unnest(range($dim)) AS i)),
       |g AS (SELECT dim,
       |    count(CASE WHEN snap = 0 THEN 1 END) AS n_old,
       |    count(CASE WHEN snap = 1 THEN 1 END) AS n_new,
       |    round(avg(CASE WHEN snap = 0 THEN x END), 6) AS mean_old,
       |    round(avg(CASE WHEN snap = 1 THEN x END), 6) AS mean_new,
       |    round(stddev_samp(CASE WHEN snap = 0 THEN x END), 6) AS std_old,
       |    round(stddev_samp(CASE WHEN snap = 1 THEN x END), 6) AS std_new
       |  FROM x GROUP BY dim)
       |SELECT dim, n_old, n_new, mean_old, mean_new, std_old, std_new,
       |  round(abs(mean_new - mean_old) / (std_old + $eps), 6) AS mean_shift_z,
       |  round(std_new / (std_old + $eps), 6) AS std_ratio
       |FROM g""".stripMargin

  /**
   * Per-label L2-norm distribution profile — the embedding-health audit
   * run before any cosine-based pipeline trusts a vector table: a label
   * whose norm distribution collapses toward 0 (dead encoder outputs)
   * or bimodalizes (mixed checkpoint versions) breaks cosine ranking
   * silently. Norms are rounded to 6 dp BEFORE the percentiles so the
   * oracle interpolates over bit-identical inputs.
   *
   * Scale shape: the norm is one codegen'd map-side fold per vector
   * ([[dot]]); the profile is [[graft.ops.Profile.quantiles]]'s single
   * hash shuffle on the tiny label key.
   */
  def normProfile(embeddings: DataFrame): DataFrame =
    graft.ops.Profile.quantiles(
      embeddings.select(col("label"),
        round(l2norm(asDouble(col("embedding"))), 6).as("nrm")),
      "nrm", "label")

  /**
   * Per-label centroid-distance outliers — the mislabel / class-boundary
   * pruning audit run before training on a labeled embedding corpus: the
   * `topK` vectors FARTHEST (squared L2) from their own label's centroid,
   * per label. Complements [[knnLabelAudit]] (neighbor-vote disagreement)
   * with the cheaper global-geometry signal that needs no pair joins.
   *
   * Scale shape: the [[labelCentroids]] means (|labels|·dim rounded
   * scalars) fold into the plan as ONE map literal, so distance scoring
   * is map-side over the corpus — no join, no corpus shuffle; the only
   * shuffle is the per-label top-k window, the [[bruteForceTopK]] shape.
   * Distances accumulate as µ-scaled integers (each squared term rounded
   * to 1e-6 first), so the dim-way sum is summation-order-proof and the
   * DuckDB oracle reproduces it exactly.
   */
  def centroidOutliers(embeddings: DataFrame, topK: Int = 5): DataFrame = {
    val e = embeddings
      .select(col("vec_id"), col("label"), asDouble(col("embedding")).as("v"))
    val centRows = labelCentroids(embeddings)
      .select(col("label"), col("dim"), col("centroid")).collect()
    if (centRows.isEmpty)
      return e.select(col("label"), col("vec_id"),
        lit(0.0).as("centroid_dist2"), lit(0).as("rank")).filter(lit(false))
    val byLabel: Map[Int, Seq[Double]] = centRows
      .groupBy(_.getInt(0)).map { case (l, rows) =>
        l -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
      }
    // codegen'd µ-distance (graftshim.MicroSquaredDistance): the
    // equivalent aggregate(zip_with(...)) is a per-row lambda interpreter
    val cent = element_at(typedLit(byLabel), col("label"))
    val distMu = graft.functions.VectorFunctions.l2mu(col("v"), cent)
    e.select(col("vec_id"), col("label"), distMu.as("__mu"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("label"))
          .orderBy(col("__mu").desc, col("vec_id"))))
      .filter(col("rank") <= topK)
      .select(col("label"), col("vec_id"),
        round(col("__mu") / lit(1e6), 6).as("centroid_dist2"), col("rank"))
  }

  /**
   * Per-dimension int8 scalar quantization audit — the storage-side
   * compression every 100 TB vector corpus runs (4× smaller than float32
   * before any ANN index): per-dim [min, max] ranges are learned in one
   * tiny aggregation (dim-count rows — driver-side like the IVF
   * centroids), then each vector quantizes map-side against the
   * broadcast-literal ranges. Emitted per vector: the digest of its
   * quantized codes (the codes are the data plane; the digest is the
   * audit trail) and the mean absolute reconstruction error — the number
   * a pipeline monitors to decide whether int8 is safe for its corpus.
   *
   * Engine-portable by construction: quantize/dequantize expressions are
   * kept in the exact same algebraic shape as the DuckDB oracle (same
   * division/multiplication order, same round-half-up on positives, same
   * left-associated error fold), so the 6-dp rounded errors and the code
   * digests are value-identical. Constant dimensions (max == min)
   * quantize to 0 with zero error.
   */
  def scalarQuantize(embeddings: DataFrame, bits: Int = 8): DataFrame = {
    require(bits >= 1 && bits <= 16, s"bits must be in [1,16], got $bits")
    val levels = (1 << bits) - 1
    val dims = embeddings
      .select(posexplode(asDouble(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("dim"))
      .collect()
    if (dims.isEmpty)
      return embeddings
        .select(col("vec_id"), lit("").as("checksum"), lit(0.0).as("mean_abs_err"))
        .limit(0)
    // codegen'd quantization lattice (r22, graftshim.ScalarQuantizeStats):
    // the pre-r22 form nested FOUR interpreted lambdas per vector (level
    // transform, error transform, string-cast transform, error-sum
    // fold); the expression replays the identical per-dim arithmetic —
    // Spark's HALF_UP round, left-to-right error sum — and is pinned
    // against the kept HOF form (scalarQuantizeHof) in SimilaritySpec.
    val mnArr = dims.map(_.getAs[Double]("mn"))
    val mxArr = dims.map(_.getAs[Double]("mx"))
    val out = org.apache.spark.sql.graftshim.ColumnShim.column(
      org.apache.spark.sql.graftshim.ScalarQuantizeStats(
        org.apache.spark.sql.graftshim.ColumnShim.expression(
          asDouble(col("embedding"))), mnArr, mxArr, levels))
    embeddings.select(col("vec_id"), out.as("__o"))
      .select(col("vec_id"), col("__o.checksum").as("checksum"),
        col("__o.mean_abs_err").as("mean_abs_err"))
  }

  /** The pre-r22 interpreted quantization lattice over explicit per-dim
    * (min, max) literal tables — equivalence baseline for
    * graftshim.ScalarQuantizeStats in SimilaritySpec. */
  private[graft] def scalarQuantizeHof(v0: Column, mnArr: Array[Double],
                                       mxArr: Array[Double],
                                       levels: Int): Column = {
    val mns = array(mnArr.toIndexedSeq.map(lit): _*)
    val mxs = array(mxArr.toIndexedSeq.map(lit): _*)
    val d = mnArr.length
    def mnI(i: Column) = element_at(mns, i + 1)
    def mxI(i: Column) = element_at(mxs, i + 1)
    // bind the cast vector as a lambda variable (single-element-array
    // transform) so projection collapse can't inline the cast into every
    // per-dim reference
    element_at(transform(array(v0), v => {
      val idx = sequence(lit(0), lit(d - 1))
      def qd(i: Column) =
        when(mxI(i) > mnI(i),
          round((element_at(v, i + 1) - mnI(i)) / (mxI(i) - mnI(i)) * levels, 0))
          .otherwise(lit(0.0))
      val q = transform(idx, i => qd(i).cast("int"))
      val err = transform(idx, i =>
        abs(element_at(v, i + 1) - (mnI(i) + qd(i) * (mxI(i) - mnI(i)) / levels)))
      struct(
        md5(concat_ws(",", transform(q, c => c.cast("string")))).as("checksum"),
        round(aggregate(err, lit(0.0), (a, x) => a + x) / d, 6).as("mean_abs_err"))
    }), 1)
  }

  /**
   * IVF (inverted-file) ANN top-k — the FAISS-style coarse-quantizer scale
   * path: k-means partitions the corpus into `nCells` cells; each query
   * probes only its `nProbe` nearest cells and exact cosine re-ranks the
   * candidates. Corpus cost: one ML k-means fit (sampled/iterative) + one
   * cell assignment pass; query cost: a broadcast join of (query, cell)
   * probes against the cell-bucketed corpus — corpus-linear in the probed
   * fraction, never all-pairs. Centroids live on the driver (nCells × dim
   * — tiny); vectors never collect. Uses `array_to_vector` (built-in, no
   * UDF) to bridge into Spark ML. Approximate: recall rises with
   * nProbe/nCells, measured against [[bruteForceTopK]] in SimilaritySpec.
   */
  def ivfTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              nCells: Int = 16, nProbe: Int = 4, seed: Long = 42L,
              maxIter: Int = 10, maxTrainRows: Long = 100000L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    // persisted: the frame feeds the bounding count, every k-means fit
    // iteration, and the final cell assignment — without the cache each is
    // its own full decode+cast scan of the corpus
    val e = graft.queries.SharedFrames.aux(withNorm(embeddings)
      .withColumn("features", array_to_vector(col("v"))))
    // train the coarse quantizer on a bounded seeded sample: k-means is
    // iterative (maxIter full passes) and centroid quality saturates far
    // below corpus size — at 100 TB fitting on everything is pure waste
    val trainFraction = math.min(1.0,
      maxTrainRows.toDouble / math.max(e.count(), 1L))
    val train =
      if (trainFraction >= 1.0) e else e.sample(withReplacement = false, trainFraction, seed)
    // one k-means|| init round instead of two: each init step is a full
    // pass plus a driver round-trip, and with a bounded training sample
    // the single-step seeding loses nothing the Lloyd iterations don't
    // recover (recall pinned in SimilaritySpec)
    val model = new KMeans().setK(nCells).setSeed(seed).setMaxIter(maxIter)
      .setInitSteps(1)
      .fit(train.select(col("features")))
    val assigned = model.transform(e)
      .select(col("vec_id"), col("v"), col("nrm"), col("prediction").as("cell"))
    // nProbe nearest cells per query, from the driver-side centroid array
    // (nCells × dim doubles — the only driver-side data in the operator)
    val centroids = model.clusterCenters.map(_.toArray)
    val spark = embeddings.sparkSession
    val queries = assigned.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val probes = queries.as("q").crossJoin(
      broadcast(spark.createDataFrame(
        centroids.zipWithIndex.toIndexedSeq.map { case (c, i) => (i, c.toSeq) })
        .toDF("cell", "centroid")))
      .select(col("query_id"), col("qv"), col("qnrm"), col("cell"),
        cosine(col("qv"), col("centroid")).as("cc"))
      .withColumn("crank", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("cc").desc, col("cell"))))
      .filter(col("crank") <= nProbe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cell"))
    assigned.alias("c")
      .join(broadcast(probes.alias("p")),
        col("c.cell") === col("p.cell") && col("c.vec_id") =!= col("p.query_id"))
      .select(col("p.query_id"), col("c.vec_id").as("neighbor_id"),
        round(dot(col("p.qv"), col("c.v")) / (col("p.qnrm") * col("c.nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /**
   * Deterministic IVF-Flat ANN top-k — the oracle-checkable sibling of
   * [[ivfTopK]]: the coarse quantizer is a salted-hash SAMPLE of the
   * corpus itself — the `nCells` vectors with the smallest
   * `md5(salt:vec_id)`, i.e. random-sample centroid init without the
   * Lloyd refinement — so the operator is a pure function of the data:
   * no RNG state, nothing learned, and a DuckDB oracle replicates it
   * value-for-value. Per-row cell assignment is an argmax of 6-dp-ROUNDED
   * centroid cosines (rounding before ranking keeps engine-ulp noise out
   * of the argmax — the [[bruteForceTopK]] idiom), ties to the smaller
   * centroid id.
   *
   * Scale shape: identical to [[ivfTopK]] — centroids live on the driver
   * (nCells × dim doubles, folded into the plan as literals, the same
   * contract as `model.clusterCenters`), so corpus assignment is ONE
   * narrow map-side projection: no shuffle ever carries vectors for
   * assignment, and the query probes broadcast against the cell-keyed
   * corpus. The Lloyd refinement is exactly what is traded for oracle
   * replication; recall at equal (nCells, nProbe) sits near [[ivfTopK]]'s
   * (sample centroids are k-means' own init) and is pinned in
   * SimilaritySpec against [[bruteForceTopK]].
   */
  /** nCells × (dim + 2) doubles — the deterministic hash-sampled coarse
    * centroids shared by the IVF family ([[ivfHashTopK]], [[ivfPqTopK]],
    * [[clusterBalancedSample]]): the `nCells` vectors with the smallest
    * `md5(salt:vec_id)`. The ONLY driver-side data in the family. */
  private def hashCentroids(e: DataFrame, nCells: Int,
                            salt: String): Array[(Long, Seq[Double], Double)] =
    e.select(col("vec_id"), col("v"), col("nrm"),
        md5(concat(lit(salt + ":"), col("vec_id").cast("string"))).as("__ck"))
      .orderBy(col("__ck"), col("vec_id"))
      .limit(nCells)
      .select(col("vec_id"), col("v"), col("nrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))

  /** Default Lloyd rounds for the IVF coarse quantizer (r13). The
    * hash-sampled centroids were k-means INIT without the refinement —
    * cell boundaries were arbitrary corpus vectors, and recall@5 at the
    * production-width row (nCells=64, nProbe=8) sat at 0.325. Training
    * the coarse quantizer with the same deterministic Lloyd machinery
    * the PQ sub-codebooks got in r12 lifts it (measured ladder in
    * BASELINE.md r13); `rounds = 0` keeps the pure-sample form as the
    * degenerate case. */
  val IvfTrainRounds: Int = 2

  /** Sentinel accepted wherever an IVF width is taken: "scale the width
    * to the corpus" via [[scaledCells]]. Explicit widths keep working
    * unchanged — the policy only engages when a caller opts in (or the
    * lifecycle controller defaults to it). */
  val AutoCells: Int = 0

  /**
   * Corpus-size-scaled IVF width — the r17 recall-frontier operating
   * point generalized (BASELINE.md r17 "ANN recall frontier on a
   * non-degenerate corpus", 128 k-vector 512-cluster Gaussian mixture):
   * the recommended rung was **1024 cells at 128 k vectors** (trained
   * init, recall@5 = 1.000 at nProbe 4 — a 0.39% probe fraction), i.e.
   * ~128 vectors per cell, and recall at fixed probe FRACTION improved
   * monotonically with width on that corpus (64 → 256 → 1024). This
   * policy keeps that ratio on a power-of-two rung, clamped to:
   *
   *  - **16 minimum** — small corpora keep the historical toy/test
   *    width (every registered oracle query pins 16 explicitly; tiny
   *    corpora gain nothing from finer cells);
   *  - **4096 maximum** — the centroid table stays a bounded driver
   *    collect (4096 · 64 dims · 8 B = 2 MB folded into the plan as one
   *    packed reference object; the serving expression is codegen
   *    width-invariant at 749 bytecodes per the frontier audit). Beyond
   *    ~512 k vectors the listing-level cell pruning, not cell count,
   *    is the scaling lever (each cell further splits by files — see
   *    TableLayout).
   *
   * At widths past 512 the default 4096-row Lloyd sample thins below
   * 8 rows/cell, so the AUTO path also grows the coarse-quantizer train
   * sample to 8·cells rows ([[freezeAnnIndex]]) — still a bounded
   * collect (≤ 32 k rows ≈ 16 MB at the cap). Explicit-width calls keep
   * the 4096-row sample so every measured ladder/oracle configuration
   * stays bit-identical.
   */
  def scaledCells(n: Long): Int = {
    if (n <= 2048) return 16
    val target = math.max(n / 128.0, 1.0)
    val rung = math.pow(2.0,
      math.round(math.log(target) / math.log(2.0)).toDouble)
    math.min(4096.0, math.max(16.0, rung)).toInt
  }

  /** Probe count for a target probe FRACTION — the serving-side
    * companion of [[scaledCells]]. The r18 auto-width receipts
    * (BASELINE.md) show recall at equal probe fraction is WIDTH-STABLE
    * under the policy (0.39% probed → recall@5 1.000 at both the
    * 1024 rung and the 4096 cap on the frontier corpus; 0.20% →
    * 0.94–0.98), so the knob an operator carries across corpus sizes
    * is the fraction; this converts it for whatever width the store's
    * current generation was built at. Default = the measured 1.000
    * operating fraction. */
  def scaledProbe(nCells: Int, fraction: Double = 0.0039): Int = {
    require(fraction > 0.0 && fraction <= 1.0,
      s"probe fraction must be in (0, 1], got $fraction")
    math.max(1, math.min(nCells, math.ceil(nCells * fraction).toInt))
  }

  /**
   * The IVF coarse centroids as (cid, coords, norm) — the bounded
   * driver-side collect every IVF operator here folds into its plan:
   *
   *  - `rounds = 0`: the r7 hash-sampled form — the `nCells` corpus
   *    vectors with the smallest `md5(salt:vec_id)`, cid = the sampled
   *    row's own vec_id;
   *  - `rounds > 0` (the default path): that sample REFINED by
   *    [[lloydRefine]] run at m = 1 — one subspace spanning the full
   *    width, i.e. plain k-means over the bounded hash-ordered training
   *    sample with the µ-int mean discipline — so the coarse quantizer
   *    is trained yet oracle-replayable step for step
   *    ([[ivfCentsCteSql]] regenerates identical doubles in DuckDB).
   *    cid = the init row's sample ORDINAL (0..n−1), the
   *    [[sampledCodebook]] convention.
   *
   * Centroid norms fold left-to-right exactly like [[dot]] and DuckDB's
   * `list_sum`, so cnrm is the identical double in both engines.
   */
  private def ivfCentroids(e: DataFrame, nCells: Int, salt: String,
                           rounds: Int, d2Seed: Boolean = false,
                           maxTrain: Int = PqTrainMaxRows)
      : Array[(Long, Seq[Double], Double)] = {
    if (rounds == 0 && !d2Seed) return hashCentroids(e, nCells, salt)
    // ONE bounded-collect job fetches the init pool AND the Lloyd
    // training sample (r22, guide §1.2): the corpus is scanned once,
    // not once per sample, and the embedding width comes off the
    // sampled rows instead of a third `first()` job.
    val initLimit = if (d2Seed) D2PoolRows else nCells
    val Seq(initPool, train) = hashSamples(e,
      Seq((salt + ":", initLimit), (salt + "t:", maxTrain)))
    if (initPool.isEmpty || initPool.head.length == 0) return Array.empty
    val dim = initPool.head.length
    val cfg = PqConfig(m = 1, k = nCells, dim = dim, salt = salt,
      rounds = rounds, d2Seed = d2Seed)
    val init =
      if (d2Seed) d2SeedsFromPool(initPool, cfg.k)
      else initPool.map(_.toSeq: Seq[Double])
    val trained =
      if (rounds == 0) init.map(_.toSeq)
      else lloydRefine(train.map(_.toSeq), init, cfg, rounds)
    trained.zipWithIndex.map { case (cv, i) =>
      var s = 0.0
      var j = 0
      while (j < cv.length) { s += cv(j) * cv(j); j += 1 }
      (i.toLong, cv, math.sqrt(s))
    }
  }

  /**
   * One-scan bounded hash-ordered samples (guide §1.2/§2.4): for each
   * request (prefix, n), the `v` vectors of the n rows SMALLEST by
   * (md5(prefix ∥ vec_id), vec_id) — value-identical to the TakeOrdered
   * collect `orderBy(md5(concat(lit(prefix), vec_id.cast("string"))),
   * vec_id).limit(n).select(v)` (Spark's lowercase-hex md5 strings
   * order exactly like the raw digest bytes, and vec_id is unique, so
   * the order is total and partition-count-invariant), but EVERY
   * requested sample comes out of ONE corpus scan instead of one scan
   * per sample: a frozen-index build was 6 bounded collects = 6 corpus
   * passes (dim probe + 2 per quantizer), now 2. Per-task state is the
   * bounded top-n buffers (≤ Σn vectors ≈ 2 MB at the default knobs);
   * the merge is associative, so executors pre-reduce and the driver
   * holds one bounded buffer set.
   */
  private def hashSamples(e: DataFrame, reqs: Seq[(String, Int)])
      : IndexedSeq[Array[Array[Double]]] = {
    val prefixes = reqs.map(_._1).toArray
    val limits = reqs.map(_._2).toArray
    val nq = reqs.size
    type Cand = (Array[Byte], Long, Array[Double])
    val ord: Ordering[Cand] = new Ordering[Cand] with Serializable {
      def compare(x: Cand, y: Cand): Int = {
        var i = 0
        while (i < 16) {
          val c = (x._1(i) & 0xff) - (y._1(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        java.lang.Long.compare(x._2, y._2)
      }
    }
    def merge(a: Array[Array[Cand]], b: Array[Array[Cand]]): Array[Array[Cand]] =
      Array.tabulate(nq) { q =>
        if (a(q).isEmpty) b(q)
        else if (b(q).isEmpty) a(q)
        else (a(q) ++ b(q)).sorted(ord).take(limits(q))
      }
    val zero = Array.fill(nq)(Array.empty[Cand])
    val tops = e.select(col("vec_id").cast("long"), col("v"))
      .rdd.mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val heaps = Array.fill(nq)(
          new scala.collection.mutable.PriorityQueue[Cand]()(ord)) // max-heap → keeps the n smallest
        it.foreach { r =>
          val id = r.getLong(0)
          val v = r.getSeq[Double](1).toArray
          val ids = java.lang.Long.toString(id)
          var q = 0
          while (q < nq) {
            md.reset()
            md.update((prefixes(q) + ids)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val cand = (md.digest(), id, v)
            val h = heaps(q)
            if (h.size < limits(q)) h.enqueue(cand)
            else if (ord.compare(cand, h.head) < 0) { h.dequeue(); h.enqueue(cand) }
            q += 1
          }
        }
        Iterator.single(heaps.map(_.toArray))
      }.fold(zero)(merge)
    tops.map(t => t.sorted(ord).map(_._3)).toIndexedSeq
  }

  /** The trained coarse centroids as a PUBLIC value — the IVF half of
    * [[codebook]]: resolve once per corpus, pass to every IVF operator's
    * `cells` parameter (a production index trains its coarse quantizer
    * once and serves many searches). */
  def ivfCells(embeddings: DataFrame, nCells: Int = 16,
               salt: String = "ivf",
               rounds: Int = IvfTrainRounds,
               d2Seed: Boolean = false): Array[(Long, Seq[Double], Double)] = {
    val e = withNorm(embeddings)
    // AutoCells: width from the corpus size ([[scaledCells]]); the train
    // sample grows with the width so the trained init stays meaningful
    // at wide rungs (explicit widths keep the 4096-row sample — every
    // measured ladder/oracle configuration is bit-identical)
    val width = if (nCells == AutoCells) scaledCells(e.count()) else nCells
    val maxTrain =
      if (nCells == AutoCells) math.max(PqTrainMaxRows, 8 * width)
      else PqTrainMaxRows
    ivfCentroids(e, width, salt, rounds, d2Seed, maxTrain)
  }

  /**
   * The coarse-centroid table as DuckDB CTEs — `icents(cid, cv, cnrm)`
   * over source relation `srcRel(vec_id, v)` — shared by every IVF
   * oracle so they all probe the identical quantizer the Spark side
   * trains: `rounds = 0` emits the hash-sampled LIMIT-nCells rows
   * (cid = vec_id); trained rounds reuse [[pqCentsCteSql]] at m = 1
   * under a distinct CTE prefix (so an oracle can hold BOTH the IVF and
   * the PQ training lattices), then attach the list_sum norms. `dim`
   * must match the corpus width when rounds > 0 (the trained CTE
   * unrolls the full-width subspace).
   */
  def ivfCentsCteSql(nCells: Int = 16, salt: String = "ivf",
                     rounds: Int = IvfTrainRounds, srcRel: String = "e",
                     dim: Int = 64, outRel: String = "icents",
                     d2Seed: Boolean = false): String =
    if (rounds == 0 && !d2Seed)
      s"""$outRel AS (SELECT vec_id cid, v cv,
         |  sqrt(list_sum(list_transform(v, x -> x*x))) cnrm FROM $srcRel
         |  ORDER BY md5('$salt:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $nCells)""".stripMargin
    else {
      val cfg = PqConfig(m = 1, k = nCells, dim = dim, salt = salt,
        rounds = rounds, d2Seed = d2Seed)
      s"""${pqCentsCteSql(cfg, srcRel, prefix = "ivt_", outRel = s"${outRel}_t")},
         |$outRel AS (SELECT cid, cv,
         |  sqrt(list_sum(list_transform(cv, x -> x*x))) cnrm FROM ${outRel}_t)""".stripMargin
    }

  /**
   * DuckDB oracle replicating [[ivfHashTopK]] at arbitrary knobs — the
   * parameterized form of the registered `similarity_ivf` oracle (same
   * centroid lattice via [[ivfCentsCteSql]], same 6-dp-rounded cosine
   * argmax assignment, probe ranking and re-rank tie rules), so a
   * differently-configured IVF query (e.g. the production-width
   * D²-seeded `similarity_ivf_d2`) gets its own exact oracle.
   */
  def ivfHashTopKOracleSql(nQueries: Int = 8, k: Int = 5, nCells: Int = 16,
                           nProbe: Int = 4, salt: String = "ivf",
                           rounds: Int = IvfTrainRounds, dim: Int = 64,
                           d2Seed: Boolean = false): String =
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |e AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM en),
       |${ivfCentsCteSql(nCells, salt, rounds, "en", dim, "cents", d2Seed)},
       |asg0 AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
       |    round(list_sum(list_transform(range(len(e.v)), i ->
       |      e.v[i+1] * c.cv[i+1])) / (e.nrm * c.cnrm), 6) cc
       |  FROM e CROSS JOIN cents c),
       |asg AS (SELECT vec_id, v, nrm, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1),
       |pr AS (SELECT vec_id query_id, qv, qnrm, cell FROM (
       |    SELECT vec_id, v qv, nrm qnrm, cid cell,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cc DESC, cid) rn
       |    FROM asg0 WHERE vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |sc AS (SELECT p.query_id, a.vec_id neighbor_id,
       |    round(list_sum(list_transform(range(len(p.qv)), i ->
       |      p.qv[i+1] * a.v[i+1])) / (p.qnrm * a.nrm), 6) cosine
       |  FROM pr p JOIN asg a ON a.cell = p.cell AND a.vec_id <> p.query_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine DESC, neighbor_id) rank FROM sc)
       |WHERE rank <= $k""".stripMargin

  /** Per-row `[cc, cid]` score rows over plan-literal centroids — ONE
    * codegen'd loop over the packed matrix
    * ([[graft.functions.VectorFunctions.ivfCellScores]]): same
    * 6-dp-rounded cosines as the per-centroid `round(dot …, 6)` struct
    * chain it replaced, whose generated code at nCells=64 ran 3× past
    * the HotSpot JIT ceiling (CodegenAudit r14). Callers explode and
    * rank (cc DESC, cid ASC) — matching the oracles'
    * row_number(ORDER BY cc DESC, cid). */
  private def cellScores(cents: Array[(Long, Seq[Double], Double)]): Column =
    graft.functions.VectorFunctions.ivfCellScores(col("v"), col("nrm"),
      packedCentroids(cents))

  /** Packed centroid-table literal for [[graft.functions.VectorFunctions
    * .ivfNearestCell]]: row = [cellId, cnrm, coords…] — one literal node,
    * one codegen'd argmax loop (see graftshim.IvfNearestCell for why the
    * composed array_max tree had to go: it pushed the generated method
    * past HotSpot's JIT ceiling and the whole scan ran interpreted). */
  private def packedCentroids(cents: Array[(Long, Seq[Double], Double)]): Column =
    typedLit(cents.toSeq.map { case (cid, cv, cnrm) =>
      cid.toDouble +: cnrm +: cv })

  /** The argmax cell id over plan-literal centroids — value-identical to
    * ranking [[cellScores]] by (cc DESC, cid ASC) and taking row 1 (same
    * 6-dp rounded cosines, same smaller-cid tie), as ONE compact
    * expression. */
  private def nearestCell(cents: Array[(Long, Seq[Double], Double)]): Column =
    graft.functions.VectorFunctions.ivfNearestCell(col("v"), col("nrm"),
      packedCentroids(cents))

  def ivfHashTopK(embeddings: DataFrame, nQueries: Int, k: Int,
                  nCells: Int = 16, nProbe: Int = 4,
                  salt: String = "ivf", rounds: Int = IvfTrainRounds,
                  cells: Option[Array[(Long, Seq[Double], Double)]] = None,
                  d2Seed: Boolean = false)
      : DataFrame = {
    val e = withNorm(embeddings)
    val cents = cells.getOrElse(ivfCentroids(e, nCells, salt, rounds, d2Seed))
    if (cents.isEmpty)
      return e.select(col("vec_id").as("query_id"),
        col("vec_id").as("neighbor_id"), lit(0.0).as("cosine"),
        lit(1).as("rank")).filter(lit(false))
    val assigned = assignCells(e, cents)
    val probes = probeCells(e, cents, nQueries, nProbe)
    ivfRerank(assigned, probes, k)
  }

  /** (vec_id, v, nrm, cell) over plan-literal centroids — one map-side
    * projection, no shuffle. */
  private def assignCells(e: DataFrame,
                          cents: Array[(Long, Seq[Double], Double)]): DataFrame =
    e.select(col("vec_id"), col("v"), col("nrm"),
      nearestCell(cents).as("cell"))

  /** (query_id, qv, qnrm, cell): each query's `nProbe` nearest cells,
    * ranked by (rounded cosine desc, cell asc). */
  private def probeCells(e: DataFrame,
                         cents: Array[(Long, Seq[Double], Double)],
                         nQueries: Int, nProbe: Int): DataFrame =
    e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), explode(cellScores(cents)).as("cs"))
      .select(col("query_id"), col("qv"), col("qnrm"),
        col("cs").getItem(0).as("cc"),
        col("cs").getItem(1).cast("long").as("cell"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cc").desc, col("cell"))))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cell"))

  /** Exact-cosine re-rank of probed candidates — the IVF family's shared
    * tail: broadcast the (tiny) probe frame against the cell-keyed
    * candidates, exclude self, round before ranking, ties to the
    * smaller neighbor id. */
  private def ivfRerank(candidates: DataFrame, probes: DataFrame,
                        k: Int): DataFrame =
    candidates.alias("c")
      .join(broadcast(probes.alias("p")),
        col("c.cell") === col("p.cell") && col("c.vec_id") =!= col("p.query_id"))
      .select(col("p.query_id"), col("c.vec_id").as("neighbor_id"),
        round(dot(col("p.qv"), col("c.v")) / (col("p.qnrm") * col("c.nrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)

  /**
   * Per-query recall@k of an approximate neighbor list against the
   * exact one — the quality audit every production ANN index tracks
   * next to its latency. Both inputs are (query_id, neighbor_id, ...)
   * frames (the shape every top-k operator here emits); recall is the
   * matched share of the EXACT list — the denominator is the per-query
   * exact-list SIZE (== `k` whenever the corpus holds k non-self rows,
   * the registered case; on a smaller corpus the share still reaches
   * 1.0 instead of being capped at |exact|/k — ADVICE r11). `k` is kept
   * as the documented intent; duplicate pairs are deduplicated so
   * neither list can double-count. Exact arithmetic (a count divided by
   * a count), so the audit is oracle-checkable with no rounding hazard.
   * Scale shape: both lists are ≤ nQueries×k rows — driver-tiny however
   * big the corpus that produced them.
   */
  def recallAudit(approx: DataFrame, exact: DataFrame, k: Int): DataFrame =
    exact.select(col("query_id"), col("neighbor_id")).distinct().alias("x")
      .join(approx.select(col("query_id"), col("neighbor_id")).distinct()
          .alias("a"),
        col("x.query_id") === col("a.query_id") &&
          col("x.neighbor_id") === col("a.neighbor_id"), "left")
      .groupBy(col("x.query_id").as("query_id"))
      .agg((count(col("a.neighbor_id")) /
          count(col("x.neighbor_id")).cast("double"))
        .as("recall_at_k"))

  /**
   * The deterministic IVF coarse assignment as a STANDALONE frame —
   * (vec_id, v, nrm, cell) under the same hash-sampled centroids
   * [[ivfHashTopK]] probes — so the assignment can be MATERIALIZED as a
   * physical layout (parquet `partitionBy(cell)`): the at-rest form
   * where a query's probe set prunes whole cell directories at file
   * LISTING time instead of scanning the corpus to recompute cells.
   * Deterministic in the corpus (hash-sampled centroids, rounded-cosine
   * argmax), so a layout built from it and a query recomputing it agree
   * cell-for-cell — the contract [[graft.queries]] `similarity_ivf_pruned`
   * and its spec pin.
   */
  def ivfCellAssignments(embeddings: DataFrame, nCells: Int = 16,
                         salt: String = "ivf",
                         rounds: Int = IvfTrainRounds): DataFrame = {
    val e = withNorm(embeddings)
    val cents = ivfCentroids(e, nCells, salt, rounds)
    require(cents.nonEmpty, "ivfCellAssignments: empty corpus")
    assignCells(e, cents)
  }

  /** Assign `rows` under an EXPLICIT centroid array (a frozen
    * [[AnnIndexModel]]'s cells, or retrained ones) — the serving-side
    * assignment as a public surface: one map-side projection over plan
    * literals, no corpus read (used by `Embeddings.meanRecall` to
    * compare frozen vs retrained quantizers over one corpus; BASELINE.md
    * r15 staleness table). */
  def ivfCellAssignmentsWith(rows: DataFrame,
                             cells: Array[(Long, Seq[Double], Double)])
      : DataFrame = {
    require(cells.nonEmpty, "ivfCellAssignmentsWith: empty centroid array")
    assignCells(withNorm(rows), cells)
  }

  /**
   * Assign `rows` to the FROZEN cells of `corpus` — the incremental /
   * streaming half of [[ivfCellAssignments]] (the same frozen-quantizer
   * contract as [[incrementalAssign]]): centroids come from the corpus
   * (one bounded collect at build), assignment is a stateless map-side
   * projection, so `rows` may be a STREAMING frame and the output lands
   * directly in the cell-partitioned layout
   * ([[graft.sources.TableLayout.streamToCellPartitioned]]) — live
   * IVF segments, O(new batch) per microbatch, the corpus never
   * rescanned.
   */
  def ivfCellAssignmentsAgainst(rows: DataFrame, corpus: DataFrame,
                                nCells: Int = 16,
                                salt: String = "ivf",
                                rounds: Int = IvfTrainRounds): DataFrame = {
    val cents = ivfCentroids(withNorm(corpus), nCells, salt, rounds)
    require(cents.nonEmpty, "ivfCellAssignmentsAgainst: empty corpus")
    assignCells(withNorm(rows), cents)
  }

  /**
   * IVF top-k over a PRE-PARTITIONED cell layout ([[ivfCellAssignments]]
   * written `partitionBy(cell)`): probe cells come from the raw corpus
   * (bounded: nCells centroid rows + one nQueries×nCells explode), the
   * probed cell ids prune the layout's directories at listing time
   * (`cellFilter` pushed as a partition filter), and only those
   * candidates are re-ranked. Result rows equal [[ivfHashTopK]] at the
   * same parameters — same centroids, same probes, same re-rank — which
   * is what lets the layout variant sit behind the same oracle.
   */
  def ivfHashTopKPruned(embeddings: DataFrame, cellLayout: DataFrame,
                        nQueries: Int, k: Int,
                        nCells: Int = 16, nProbe: Int = 4,
                        salt: String = "ivf",
                        rounds: Int = IvfTrainRounds,
                        cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    val e = withNorm(embeddings)
    val cents = cells.getOrElse(ivfCentroids(e, nCells, salt, rounds))
    require(cents.nonEmpty, "ivfHashTopKPruned: empty corpus")
    val probes = probeCells(e, cents, nQueries, nProbe)
    // bounded collect (≤ nCells ids): the probe set must be plan
    // LITERALS for the partition filter to prune at listing. Int
    // literals, matching the layout's inferred partition-column type —
    // a Long-vs-Int mismatch would wrap the column in a cast and the
    // listing could no longer prune on it.
    val probedIds = probes.select(col("cell")).distinct()
      .collect().map(_.getLong(0).toInt).sorted
    val candidates = cellLayout
      .filter(col("cell").isin(probedIds.toIndexedSeq: _*))
      .select(col("vec_id"), col("v"), col("nrm"),
        col("cell").cast("long").as("cell"))
    ivfRerank(candidates, probes, k)
  }

  /** The ANN configuration shared by the registry's `similarity_ann`
    * query and its generated oracle — ONE definition, because the oracle
    * bakes the plane coefficients derived from these numbers into SQL:
    * tuning the query defaults without regenerating the oracle would
    * surface only as an opaque value mismatch in the driver gate. `dim`
    * must match the corpus ([[lshTopK]] derives it from the data; the
    * driver's embeddings are 64-wide at every scale factor). */
  final case class AnnConfig(nQueries: Int = 8, k: Int = 5, bits: Int = 3,
                             tables: Int = 12, dim: Int = 64, seed: Long = 42L)
  val annDefaults: AnnConfig = AnnConfig()

  /**
   * DuckDB oracle replicating [[lshTopK]] exactly: the hyperplanes come
   * from the same fixed-seed generator, embedded as literal coefficient
   * sums (`Double.toString` round-trips, and an explicit left-associated
   * `+` chain matches [[graft.functions.VectorFunctions.dotp]]'s
   * accumulation order bit-for-bit, so every sign bit agrees).
   */
  def lshTopKOracleSql(cfg: AnnConfig = annDefaults): String = {
    import cfg.{nQueries, k, bits, tables, dim, seed}
    val planes = hyperplanes(tables, bits, dim, seed)
    def dotSql(plane: Seq[Double]): String =
      plane.zipWithIndex.map { case (w, i) => s"v[${i + 1}]*($w)" }.mkString(" + ")
    val bk = planes.zipWithIndex.map { case (tablePlanes, t) =>
      val bucket = tablePlanes
        .map(p => s"(CASE WHEN ${dotSql(p)} > 0 THEN '1' ELSE '0' END)")
        .mkString(" || ")
      s"SELECT vec_id, $t AS tbl, $bucket AS bucket FROM e"
    }.mkString("\n  UNION ALL ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |bk AS (
       |  $bk),
       |qb AS (SELECT vec_id AS query_id, tbl, bucket FROM bk WHERE vec_id < $nQueries),
       |cand AS (SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM bk c JOIN qb q
       |    ON c.tbl = q.tbl AND c.bucket = q.bucket AND c.vec_id <> q.query_id),
       |scored AS (SELECT query_id, neighbor_id,
       |  round(list_sum(list_transform(range($dim), i -> eq.v[i+1] * en.v[i+1]))
       |    / (sqrt(list_sum(list_transform(eq.v, x -> x*x)))
       |       * sqrt(list_sum(list_transform(en.v, x -> x*x)))), 6) AS cosine
       |  FROM cand JOIN e eq ON eq.vec_id = query_id
       |            JOIN e en ON en.vec_id = neighbor_id),
       |ranked AS (SELECT query_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cosine DESC, neighbor_id) AS INT) rank FROM scored)
       |SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $k""".stripMargin
  }

  /**
   * LSH ANN top-k: queries (`vec_id < nQueries`) probe only vectors
   * sharing a bucket in at least one table, then exact cosine re-ranks
   * the candidates. Approximate — neighbors in no shared bucket are
   * missed; recall is a (bits, tables) trade measured in the spec.
   * Deterministic (fixed-seed planes), so [[lshTopKOracleSql]] replicates
   * it value-for-value in DuckDB.
   */
  def lshTopK(embeddings: DataFrame, nQueries: Int, k: Int,
              bits: Int = 3, tables: Int = 12, seed: Long = 42L,
              expectedDim: Option[Int] = None): DataFrame = {
    val e = withNorm(embeddings)
    // derive the plane width from the data: a mismatched hardcoded dim
    // would silently bucket on the shorter prefix of each dot product
    // (DotProduct's prefix-sum semantics) — wrong planes, wrong recall.
    // Callers with an oracle generated for a specific width pass
    // expectedDim so a drifted corpus fails LOUDLY here instead of as an
    // opaque value mismatch in the driver's oracle compare.
    val dataDim = embeddingDim(e)
    expectedDim.foreach { d =>
      require(dataDim < 0 || dataDim == d,
        s"corpus embedding dim $dataDim != configured dim $d — regenerate " +
          "the ANN oracle (Similarity.lshTopKOracleSql) for this corpus")
    }
    val dim = math.max(dataDim, 1)
    val planes = hyperplanes(tables, bits, dim, seed)
    // persisted: the corpus side and the query probe side both read it
    // (same session-scoped cache lifetime note as signLshNearDupPairs)
    val buckets = graft.queries.SharedFrames.aux(bucketed(e, planes))
    val qb = buckets.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("table"), col("bucket"))
    val cand = buckets.alias("c")
      .join(qb.alias("q"),
        col("c.table") === col("q.table") && col("c.bucket") === col("q.bucket") &&
          col("c.vec_id") =!= col("q.query_id"))
      .select(col("q.query_id"), col("c.vec_id").as("neighbor_id"))
      .distinct()
    // vectors re-enter only after dedup: neighbors by equi-join, the tiny
    // query set broadcast
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("__qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    cand
      .join(e.select(col("vec_id").as("__nid"), col("v").as("nv"), col("nrm").as("nnrm")),
        col("__nid") === col("neighbor_id"))
      .join(broadcast(qv), col("__qid") === col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")), 6).as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
  }

  /** Random-projection configuration shared by the `embedding_rp` /
    * `rp_distortion` queries and their oracles — same dim-pinning
    * contract as [[AnnConfig]]. `kDims` defaults to a perfect square's
    * power of two so the 1/√k scale (here /4) is an exact IEEE op. */
  final case class RpConfig(kDims: Int = 16, dim: Int = 64,
                            seed: Long = 20260813L, nSample: Int = 8)
  val rpDefaults: RpConfig = RpConfig()

  /** Deterministic Rademacher (±1) rows: `kDims × dim` signs from a
    * fixed-seed PRNG (no entropy — resumes and oracle runs must see the
    * identical matrix; same rule as [[hyperplanes]]). */
  private[similarity] def rademacher(cfg: RpConfig): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(cfg.seed)
    Seq.fill(cfg.kDims)(Seq.fill(cfg.dim)(if (rnd.nextBoolean()) 1.0 else -1.0))
  }

  /**
   * Johnson-Lindenstrauss random projection: map each `dim`-wide vector
   * to `kDims` components y_j = ⟨x, s_j⟩/√kDims over the fixed ±1
   * [[rademacher]] rows. Purely MAP-SIDE — no shuffle, no state, each
   * partition projects independently — which is what makes it the
   * standard 100 TB pre-step: distances are approximately preserved
   * (JL), so downstream ANN / clustering / dedup runs on vectors 4×
   * narrower at a per-row cost. Components round to 6 dp (the corpus
   * rounding convention); the sign rows embed in the oracle SQL as
   * literal left-associated sums, matching dotp's accumulation order.
   */
  def randomProjection(embeddings: DataFrame,
                       cfg: RpConfig = rpDefaults): DataFrame = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val dataDim = embeddingDim(e)
    require(dataDim < 0 || dataDim == cfg.dim,
      s"corpus embedding dim $dataDim != configured dim ${cfg.dim} — " +
        "regenerate the RP oracle (Similarity.rpOracleSql) for this corpus")
    val scale = math.sqrt(cfg.kDims.toDouble)
    // one whole-matrix codegen'd node (graftshim.MatVecRound6): the
    // kDims separate dot+round chains pushed the generated method past
    // the HotSpot JIT ceiling (CodegenAudit) and the scan ran
    // interpreted — same left-to-right dots, same /√k, same 6-dp round
    e.select(col("vec_id"),
      graft.functions.VectorFunctions.matvecRound6(col("v"),
        typedLit(rademacher(cfg)), lit(scale)).as("rp"))
  }

  /** DuckDB oracle replicating [[randomProjection]] in the exploded
    * (vec_id, comp, value) form the registry serves (the driver compare
    * hashes scalar cells): same fixed-seed sign rows as explicit
    * literal sums. */
  def rpOracleSql(cfg: RpConfig = rpDefaults): String = {
    val scale = math.sqrt(cfg.kDims.toDouble)
    val comps = rademacher(cfg).map { signs =>
      val s = signs.zipWithIndex
        .map { case (w, i) => s"v[${i + 1}]*($w)" }.mkString(" + ")
      s"round(($s) / $scale, 6)"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |rp AS (SELECT vec_id, [$comps] AS r FROM e)
       |SELECT vec_id, CAST(i AS INT) AS comp, r[i+1] AS value
       |FROM rp CROSS JOIN (SELECT unnest(range(${cfg.kDims})) AS i)""".stripMargin
  }

  /**
   * JL distortion audit: for every pair among the `nSample` smallest
   * vec_ids, the squared L2 distance before and after projection and
   * their ratio — the empirical check that the chosen `kDims` preserves
   * geometry before the full corpus switches to the narrow vectors
   * (audit-first, like `dedup_lsh_audit` for LSH recall). Identical
   * vectors (d²=0) are excluded — ratio undefined. Output
   * `(vec_a, vec_b, d2_orig, d2_proj, ratio)`, 6-dp rounded.
   */
  def rpDistortionAudit(embeddings: DataFrame,
                        cfg: RpConfig = rpDefaults): DataFrame = {
    val sample = embeddings.orderBy(col("vec_id")).limit(cfg.nSample)
    val proj = randomProjection(sample, cfg)
    val s = sample
      .select(col("vec_id"), asDouble(col("embedding")).as("v"))
      .join(proj, Seq("vec_id"))
    // codegen'd Σ(aᵢ−bᵢ)² (r22): `dot(zip_with(a, b, _ - _), …)` was a
    // CodegenFallback lambda per pair row; SubvectorDist2 at offset 0
    // accumulates the identical left-to-right IEEE sequence
    def d2(a: Column, b: Column): Column =
      graft.functions.VectorFunctions.subdist2(a, b, lit(0))
    val pairs = s.select(col("vec_id").as("vec_a"), col("v").as("va"),
        col("rp").as("ra"))
      .join(s.select(col("vec_id").as("vec_b"), col("v").as("vb"),
        col("rp").as("rb")), col("vec_a") < col("vec_b"))
    pairs
      .select(col("vec_a"), col("vec_b"),
        d2(col("va"), col("vb")).as("__do"),
        d2(col("ra"), col("rb")).as("__dp"))
      .filter(col("__do") > 0)
      .select(col("vec_a"), col("vec_b"),
        round(col("__do"), 6).as("d2_orig"),
        round(col("__dp"), 6).as("d2_proj"),
        round(col("__dp") / col("__do"), 6).as("ratio"))
  }

  /** DuckDB oracle replicating [[rpDistortionAudit]] — the sample CTE,
    * the literal-sum projections, and the same pre-rounding ratio. */
  def rpDistortionOracleSql(cfg: RpConfig = rpDefaults): String = {
    val scale = math.sqrt(cfg.kDims.toDouble)
    val comps = rademacher(cfg).map { signs =>
      val s = signs.zipWithIndex
        .map { case (w, i) => s"v[${i + 1}]*($w)" }.mkString(" + ")
      s"round(($s) / $scale, 6)"
    }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |s AS (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT ${cfg.nSample}),
       |rp AS (SELECT vec_id, [$comps] AS r FROM s),
       |p AS (SELECT a.vec_id vec_a, b.vec_id vec_b,
       |    list_sum(list_transform(range(${cfg.dim}),
       |      i -> (sa.v[i+1] - sb.v[i+1]) * (sa.v[i+1] - sb.v[i+1]))) AS d_o,
       |    list_sum(list_transform(range(${cfg.kDims}),
       |      i -> (a.r[i+1] - b.r[i+1]) * (a.r[i+1] - b.r[i+1]))) AS dp
       |  FROM rp a JOIN rp b ON a.vec_id < b.vec_id
       |  JOIN s sa ON sa.vec_id = a.vec_id
       |  JOIN s sb ON sb.vec_id = b.vec_id)
       |SELECT vec_a, vec_b, round(d_o, 6) AS d2_orig, round(dp, 6) AS d2_proj,
       |       round(dp / d_o, 6) AS ratio
       |FROM p WHERE d_o > 0""".stripMargin
  }

  /** Product-quantization configuration shared by the `embedding_pq`
    * query and its oracle — one definition, same contract as
    * [[AnnConfig]]: `dim` must match the corpus width and divide into
    * `m` equal subspaces; `k` codebook entries per subspace start from
    * the salt-hash-sampled rows both engines select identically, then
    * get `rounds` deterministic Lloyd refinements ([[trainPqCodebook]];
    * `rounds = 0` keeps the raw sample). Defaults (m=8 × 8-dim
    * subspaces, k=64 codes, 2 rounds) are the measured r12 operating
    * point: the refined search reaches the plain-IVF recall ceiling at
    * equal probes on the test corpora (receipts in BASELINE.md's r12
    * "ANN recall ladder" and r13 probe-width rows). */
  final case class PqConfig(m: Int = 8, k: Int = 64, dim: Int = 64,
                            salt: String = "pq", rounds: Int = 2,
                            d2Seed: Boolean = false) {
    require(dim % m == 0, s"dim $dim must split into $m equal subspaces")
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    val sub: Int = dim / m
  }
  val pqDefaults: PqConfig = PqConfig()

  /** Lloyd-training sample bound: training reads at most this many
    * hash-ordered rows ([[trainPqCodebook]]) — centroid quality
    * saturates far below corpus size, so at 100 TB the training collect
    * stays O(constant) like every other codebook collect here. Shared
    * by the Scala trainer and the oracle SQL generator. */
  val PqTrainMaxRows: Int = 4096

  /**
   * Product quantization — the codebook compression behind large-scale
   * ANN indexes (IVF-PQ): split each `dim`-wide vector into `m`
   * subspaces, quantize each subvector to its nearest of `k` codebook
   * centroids, and emit the per-subspace codes (m small ints ≈
   * m·log₂k bits replacing dim floats) plus the squared reconstruction
   * error. Complements [[scalarQuantize]] (per-dimension, no cross-dim
   * structure) with the vector-level sibling.
   *
   * Codebooks are DETERMINISTIC, not learned (the [[ivfHashTopK]]
   * trade): the k sampled rows ordered by `md5(salt:vec_id)` provide
   * all m sub-codebooks (row ordinal = code id), so the DuckDB oracle
   * reproduces them exactly; k-means refinement is what's traded for
   * value-level verification.
   *
   * Scale shape: the codebook is k·dim doubles folded into the plan as
   * literals (one driver-side LIMIT-k collect, O(k·dim)); assignment is
   * then a pure map-side projection — NO shuffle anywhere, each row
   * computes m·k rounded distances inside codegen and takes the
   * lexicographic struct-min (ties to the smaller code id, matching the
   * oracle's `row_number ORDER BY d, cid`).
   */
  /** The k deterministic codebook rows (ordinal = code id): corpus rows
    * ordered by `md5(salt:vec_id)` with vec_id tiebreak — ONE driver-side
    * LIMIT-k collect of O(k·dim) doubles, shared by [[productQuantize]]
    * (assignment) and [[adcTopK]] (query-side lookup tables) so both ends
    * of the PQ pipeline quantize against the identical codebook. */
  private def sampledCodebook(e: DataFrame, cfg: PqConfig): Array[Seq[Double]] =
    if (cfg.d2Seed) d2Seeds(e, cfg)
    else
      e.select(col("v"),
          md5(concat(lit(cfg.salt + ":"), col("vec_id").cast("string"))).as("__ck"),
          col("vec_id"))
        .orderBy(col("__ck"), col("vec_id"))
        .limit(cfg.k)
        .select(col("v"))
        .collect()
        .map(_.getSeq[Double](0))

  /** Candidate-pool bound for [[d2Seeds]]: seeding argmaxes over the
    * first `D2PoolRows` rows of the same salt-hash order the plain
    * sample draws from — bounded at any corpus size, a strict superset
    * of the LIMIT-k sample rows. */
  val D2PoolRows: Int = 1024

  /**
   * Deterministic k-means++-style D² seeding — the init-quality lever
   * Lloyd refinement cannot recover from a bad random draw: instead of
   * the first k hash-ordered rows, seeds are chosen greedily
   * farthest-first over the bounded candidate pool (seed 0 = the pool's
   * first row — exactly the plain sample's first pick; seed t+1 = the
   * candidate maximizing its squared distance to the nearest
   * already-chosen seed, quantized on the µ-int grid
   * `floor(d·1e6 + 0.5)/1e6` — NOT `round(d, 6)`/BigDecimal, whose
   * half-tie paths differ between Scala and DuckDB, the exact class the
   * r14 sf0.1 gate caught in robust-z). The classic randomized
   * k-means++ D²-sampling is replaced by its deterministic argmax
   * variant so the seeding is a pure function of the data: ties on the
   * quantized grid resolve to the candidate EARLIEST in the salt-hash
   * order (the pool's own ordering), and the DuckDB oracle replays the
   * selection row for row ([[d2SeedCtes]]). cid = selection ordinal.
   *
   * Scale shape: one bounded TakeOrdered collect (≤ [[D2PoolRows]] rows)
   * + an O(pool·k·dim) driver loop (incremental min-distance update, the
   * standard farthest-point traversal) — the same bounded-collect
   * contract as every codebook here; the corpus is never shuffled.
   */
  private def d2Seeds(e: DataFrame, cfg: PqConfig): Array[Seq[Double]] =
    d2SeedsFromPool(e.select(col("v"),
        md5(concat(lit(cfg.salt + ":"), col("vec_id").cast("string"))).as("__ck"),
        col("vec_id"))
      .orderBy(col("__ck"), col("vec_id"))
      .limit(D2PoolRows)
      .select(col("v"))
      .collect()
      .map(_.getSeq[Double](0).toArray), cfg.k)

  /** The deterministic farthest-first selection of [[d2Seeds]] over an
    * already-collected candidate pool — the seam that lets the pool ride
    * a combined [[hashSamples]] scan. */
  private def d2SeedsFromPool(pool: Array[Array[Double]],
                              k: Int): Array[Seq[Double]] = {
    if (pool.isEmpty) return Array.empty
    val kk = math.min(k, pool.length)
    val chosen = new Array[Int](kk)
    val taken = new Array[Boolean](pool.length)
    val minD = Array.fill(pool.length)(Double.MaxValue)
    chosen(0) = 0
    taken(0) = true
    var t = 1
    while (t < kk) {
      val last = pool(chosen(t - 1))
      var best = -1
      var bestD = -1.0
      var i = 0
      while (i < pool.length) {
        if (!taken(i)) {
          var d = 0.0
          var j = 0
          while (j < last.length) {
            val df = pool(i)(j) - last(j)
            d += df * df
            j += 1
          }
          val dr = math.floor(d * 1e6 + 0.5) / 1e6
          if (dr < minD(i)) minD(i) = dr
          // strict >: distance ties resolve to the EARLIEST pool row
          if (minD(i) > bestD) { bestD = minD(i); best = i }
        }
        i += 1
      }
      chosen(t) = best
      taken(best) = true
      t += 1
    }
    chosen.take(kk).map(i => pool(i).toSeq)
  }

  /** Per-subspace lexicographic struct-min columns over codebook-literal
    * distances — the quantization core of [[productQuantize]], shared by
    * [[incrementalAssign]] so a new batch quantizes against a FROZEN
    * codebook through the identical expression.
    *
    * The codegen'd SubvectorDist2 loop accumulates left-to-right —
    * bit-equal to the unrolled element_at chain it replaced and to the
    * oracle's list_sum element order — while keeping the generated
    * source m·k small loops instead of an m·k·sub-node tree (whose
    * Janino compile dominated the whole assignment pass). */
  private def pqBestCols(cents: Array[Seq[Double]], cfg: PqConfig): Seq[Column] = {
    import cfg.{m, sub}
    (0 until m).map { s =>
      graft.functions.VectorFunctions.pqNearest(col("v"),
        typedLit(cents.toSeq.map(_.slice(s * sub, (s + 1) * sub))),
        lit(s * sub)).as(s"__b$s")
    }
  }

  /** Pivot of the `__b*` best structs into (code0..codem-1, recon_error). */
  private def pqCodeCols(cfg: PqConfig): Seq[Column] =
    (0 until cfg.m).map(s => col(s"__b$s").getField("cid").as(s"code$s")) :+
      round((0 until cfg.m).map(s => col(s"__b$s").getField("d"))
        .reduceLeft(_ + _), 6).as("recon_error")

  def productQuantize(embeddings: DataFrame,
                      cfg: PqConfig = pqDefaults,
                      codebook: Option[Array[Seq[Double]]] = None): DataFrame = {
    import cfg.m
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val dataDim = embeddingDim(e)
    if (dataDim == -1)
      return e.select(col("vec_id") +:
          (0 until m).map(s => lit(0).as(s"code$s")) :+
          lit(0.0).as("recon_error"): _*)
        .filter(lit(false))
    require(dataDim == cfg.dim,
      s"corpus dim $dataDim != PqConfig.dim ${cfg.dim} — regenerate the " +
        "embedding_pq oracle with the matching PqConfig")
    val cents = codebook.getOrElse(resolveCodebook(e, cfg))
    // per subspace: lexicographic struct-min over (rounded dist², cid)
    val withBest = e.select(col("vec_id") +: pqBestCols(cents, cfg): _*)
    withBest.select(col("vec_id") +: pqCodeCols(cfg): _*)
  }

  /** [[productQuantize]] against an EXPLICIT codebook (k full-width rows
    * whose per-subspace slices are the sub-codebooks — the layout both
    * [[sampledCodebook]] and [[trainPqCodebook]] emit): the same
    * struct-min quantization expression, codebook supplied instead of
    * sampled. The seam that lets a trained codebook serve every PQ
    * operator unchanged. */
  def productQuantizeWith(embeddings: DataFrame, cents: Array[Seq[Double]],
                          cfg: PqConfig = pqDefaults): DataFrame = {
    // <= cfg.k, not ==: an under-k corpus resolves/trains a SHORT
    // codebook (every row a codeword) — the same contract as
    // resolveCodebook and trainPqCodebook, which this is the seam for
    require(cents.nonEmpty && cents.length <= cfg.k,
      s"codebook has ${cents.length} rows, cfg.k = ${cfg.k}")
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val withBest = e.select(col("vec_id") +: pqBestCols(cents, cfg): _*)
    withBest.select(col("vec_id") +: pqCodeCols(cfg): _*)
  }

  /** Spark's `round(_, 6)` exactly (BigDecimal HALF_UP — what the
    * quantization expressions round distances with), for driver-side
    * replication inside [[trainPqCodebook]]. Distances are non-negative,
    * where HALF_UP == DuckDB's half-away-from-zero `round`. */
  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** floor(x·1e6 + 0.5) — the µ-int quantizer used for Lloyd means:
    * `floor(x*1e6 + 0.5)` is the SAME IEEE expression in Scala, Spark SQL
    * and DuckDB (unlike `round`, whose negative-half tie rules differ by
    * engine), so integer sums — order-free by exactness — agree
    * bit-for-bit across all three. */
  private def mu(x: Double): Long = math.floor(x * 1e6 + 0.5).toLong

  /**
   * Deterministic Lloyd-TRAINED PQ codebook — the recall lever the
   * hash-sampled codebook leaves on the table (sampling IS k-means init;
   * this adds the refinement): per subspace, `rounds` Lloyd iterations
   * over a bounded hash-ordered training sample, every arithmetic step
   * pinned to an engine-portable form so a DuckDB oracle replays the
   * training value-for-value ([[trainedPqCentsSql]]):
   *
   *  - assignment distances: left-to-right (x−c)² folds rounded to 6 dp
   *    (the quantization expressions' own rule), argmin ties to the
   *    smaller code id;
   *  - means: coordinates quantized to µ-ints via floor(x·1e6 + 0.5),
   *    summed EXACTLY in int64 (summation-order-proof — the trick that
   *    makes a grouped SQL SUM reproducible), mean = floor(sum/cnt + 0.5)
   *    back at µ precision — so trained centroids live on the same 1e-6
   *    grid as every other constant here;
   *  - empty clusters keep their previous centroid.
   *
   * Output: k full-width rows (subspace s's slice = sub-codebook s), the
   * exact layout [[productQuantizeWith]]/[[pqBestCols]] consume — a
   * trained codebook drops into every PQ operator unchanged.
   *
   * Scale shape: training is one bounded collect (≤ `maxTrain` rows, the
   * codebook contract) + an O(maxTrain·k·dim·rounds) driver loop — at
   * the defaults ~134M multiplies, milliseconds-to-seconds once, amortized
   * over every search the codebook serves; the corpus is never shuffled.
   */
  /** @param rounds Lloyd rounds; negative (the default) means
    *               `cfg.rounds` — so the explicit-train path can never
    *               silently disagree with the cfg-dispatched one */
  def trainPqCodebook(embeddings: DataFrame, cfg: PqConfig = pqDefaults,
                      rounds: Int = -1,
                      maxTrain: Int = PqTrainMaxRows): Array[Seq[Double]] = {
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    // init pool and training sample off ONE corpus scan (r22 —
    // hashSamples; was one TakeOrdered job each)
    val initLimit = if (cfg.d2Seed) D2PoolRows else cfg.k
    val Seq(pool, train) = hashSamples(e,
      Seq((cfg.salt + ":", initLimit), (cfg.salt + "t:", maxTrain)))
    val init =
      if (cfg.d2Seed) d2SeedsFromPool(pool, cfg.k)
      else pool.map(_.toSeq: Seq[Double])
    lloydRefine(train.map(_.toSeq), init, cfg,
      if (rounds < 0) cfg.rounds else rounds)
  }

  /** The bounded hash-ordered Lloyd training sample — the same
    * salt-keyed ordering idiom as [[sampledCodebook]], distinct salt so
    * the training set and the init rows draw independently. */
  private def trainSample(e: DataFrame, cfg: PqConfig,
                          maxTrain: Int = PqTrainMaxRows): Array[Seq[Double]] =
    e.select(col("v"),
        md5(concat(lit(cfg.salt + "t:"), col("vec_id").cast("string"))).as("__ck"),
        col("vec_id"))
      .orderBy(col("__ck"), col("vec_id"))
      .limit(maxTrain)
      .select(col("v"))
      .collect()
      .map(_.getSeq[Double](0))

  /** The cfg-resolved codebook as a public value — the handle a caller
    * memoizes once per corpus and passes to every PQ operator's
    * `codebook` parameter (a production index trains once, serves many). */
  def codebook(embeddings: DataFrame, cfg: PqConfig = pqDefaults): Array[Seq[Double]] =
    resolveCodebook(
      embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v")), cfg)

  /** cfg-dispatched codebook over the projected (vec_id, v) frame:
    * hash-sampled init, plus `cfg.rounds` Lloyd refinements when
    * configured. An under-k corpus yields a SHORT codebook and still
    * TRAINS it — the pqCentsCteSql oracle unconditionally trains
    * whatever its LIMIT k returned, so skipping would silently diverge
    * on small corpora. */
  private def resolveCodebook(e: DataFrame, cfg: PqConfig): Array[Seq[Double]] = {
    if (cfg.rounds == 0) return sampledCodebook(e, cfg) // one collect already
    val initLimit = if (cfg.d2Seed) D2PoolRows else cfg.k
    val Seq(pool, train) = hashSamples(e,
      Seq((cfg.salt + ":", initLimit), (cfg.salt + "t:", PqTrainMaxRows)))
    val init =
      if (cfg.d2Seed) d2SeedsFromPool(pool, cfg.k)
      else pool.map(_.toSeq: Seq[Double])
    // an under-k corpus yields a SHORT init; it still trains (the
    // pqCentsCteSql oracle unconditionally trains whatever LIMIT k
    // returned — skipping here would silently diverge on small corpora)
    if (init.isEmpty) init
    else lloydRefine(train.map(_.toSeq), init, cfg, cfg.rounds)
  }

  /** Per-round multiply count (rows · k · sub) above which a Lloyd
    * round runs as a CLUSTER job instead of a driver loop (r19, verdict
    * ask #2: the AutoCells cap rung — 32 k sample × 4096 cells ×
    * 64 dims ≈ 8.6 G multiplies/round — cost 90.9 s of single-threaded
    * driver compute). Every registered oracle configuration
    * (≤ 4096 rows × 16 cells × 64 dims ≈ 4.2 M) stays far under the
    * default and keeps the driver loop; both paths are BIT-IDENTICAL
    * (KnobFuzzSpec forces each in turn), so the threshold is purely a
    * latency knob — which is also why this test seam may safely be a
    * plain var. */
  @volatile private[graft] var distLloydThreshold: Long = 1L << 28

  /** The per-row nearest-centroid accumulate shared VERBATIM by the
    * driver and distributed Lloyd paths — one implementation, so the
    * two can never diverge: left-to-right (x−c)² fold rounded to 6 dp,
    * strict-< argmin (ties → smaller cid), µ-int coordinate sums
    * (order-proof int64 — the property that makes the distributed
    * merge exact). */
  private def accumulateAssign(row: Array[Double],
                               cents: Array[Array[Double]], s: Int, sub: Int,
                               k: Int, sums: Array[Array[Long]],
                               cnts: Array[Long]): Unit = {
    var best = 0
    var bestD = Double.MaxValue
    var cid = 0
    while (cid < k) {
      var d = 0.0
      var i = 0
      while (i < sub) {
        val diff = row(s * sub + i) - cents(cid)(i)
        d += diff * diff
        i += 1
      }
      // round only a candidate that can WIN: round6(x) >= x − 5e-7, so
      // d >= bestD + 1e-6 implies round6(d) > bestD — bit-identical to
      // rounding every candidate (the PqNearestCode gate). cid 0 always
      // rounds, so a non-finite row still fails loudly in round6.
      if (cid == 0 || d < bestD + 1e-6) {
        val dr = round6(d)
        if (dr < bestD) { bestD = dr; best = cid } // strict <: ties → smaller cid
      }
      cid += 1
    }
    cnts(best) += 1
    var i = 0
    while (i < sub) {
      sums(best)(i) += mu(row(s * sub + i))
      i += 1
    }
  }

  /** One Lloyd round's (µ-int sums, counts) on the driver. */
  private def driverAssignSums(rows: Array[Array[Double]],
                               cents: Array[Array[Double]], s: Int, sub: Int,
                               k: Int): (Array[Array[Long]], Array[Long]) = {
    val sums = Array.fill(k)(new Array[Long](sub))
    val cnts = new Array[Long](k)
    var r = 0
    while (r < rows.length) {
      accumulateAssign(rows(r), cents, s, sub, k, sums, cnts)
      r += 1
    }
    (sums, cnts)
  }

  /** One Lloyd round's (µ-int sums, counts) as a cluster job: centroids
    * broadcast, map-side nearest-cell + per-partition partial sums, one
    * elementwise int64 merge — exact, so summation order (and therefore
    * partitioning/executor count) cannot change a single bit of the
    * result vs [[driverAssignSums]]. */
  private def distributedAssignSums(rdd: org.apache.spark.rdd.RDD[Array[Double]],
                                    cents: Array[Array[Double]], s: Int,
                                    sub: Int, k: Int)
      : (Array[Array[Long]], Array[Long]) = {
    val bc = rdd.sparkContext.broadcast(cents)
    val (sums, cnts) = rdd.mapPartitions { it =>
      val cs = bc.value
      val ps = Array.fill(k)(new Array[Long](sub))
      val pc = new Array[Long](k)
      it.foreach(accumulateAssign(_, cs, s, sub, k, ps, pc))
      Iterator.single((ps, pc))
    }.reduce { (a, b) =>
      var cid = 0
      while (cid < k) {
        var i = 0
        while (i < sub) { a._1(cid)(i) += b._1(cid)(i); i += 1 }
        a._2(cid) += b._2(cid)
        cid += 1
      }
      a
    }
    bc.destroy()
    (sums, cnts)
  }

  /** The per-subspace Lloyd loop of [[trainPqCodebook]], over an
    * explicit training sample and init codebook (the seam
    * [[freezeAnnIndex]] and [[resolveCodebook]] share). Rounds whose
    * work exceeds [[distLloydThreshold]] run distributed (the sample
    * parallelized ONCE and cached across all subspaces/rounds, ≤ 32 k
    * rows ≈ 16 MB at the AutoCells cap); the driver loop is kept below
    * it — both paths share [[accumulateAssign]] and are bit-identical,
    * so nothing downstream (oracles included) can observe the switch. */
  private def lloydRefine(train: Array[Seq[Double]], init: Array[Seq[Double]],
                          cfg: PqConfig, rounds: Int): Array[Seq[Double]] = {
    import cfg.{m, sub}
    val k = init.length // may be < cfg.k on an under-k corpus
    val flat: Array[Array[Double]] = train.map(_.toArray)
    val distribute = rounds > 0 &&
      flat.length.toLong * k * sub >= distLloydThreshold
    val rdd =
      if (!distribute) None
      else scala.util.Try {
        val sc = org.apache.spark.sql.SparkSession.active.sparkContext
        val parts = math.max(1,
          math.min(sc.defaultParallelism * 4, flat.length / 64))
        sc.parallelize(flat.toIndexedSeq, parts)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }.toOption
    try {
      // per-subspace Lloyd over the µ-disciplined arithmetic above
      val perSub: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
        var cents: Array[Array[Double]] =
          init.map(_.slice(s * sub, (s + 1) * sub).toArray)
        for (_ <- 1 to rounds) {
          val (sums, cnts) = rdd match {
            case Some(r) => distributedAssignSums(r, cents, s, sub, k)
            case None => driverAssignSums(flat, cents, s, sub, k)
          }
          cents = Array.tabulate(k) { cid =>
            if (cnts(cid) == 0L) cents(cid)
            else Array.tabulate(sub)(i =>
              math.floor(sums(cid)(i).toDouble / cnts(cid) + 0.5) / 1e6)
          }
        }
        cents
      }
      Array.tabulate(k)(cid =>
        Seq.tabulate(cfg.dim)(j => perSub(j / sub)(cid)(j % sub)))
    } finally rdd.foreach(_.unpersist(blocking = false))
  }

  /**
   * Incremental ANN ingest — the living-index twin of `dedup_incremental`
   * on the similarity side: a NEW batch of vectors is folded into an
   * index whose coarse quantizer and PQ codebook were FROZEN when the
   * landed corpus was indexed. Each new vector gets (a) its IVF cell —
   * the [[ivfHashTopK]] argmax over the corpus-derived hash-sampled
   * centroids — and (b) its PQ codes + reconstruction error against the
   * corpus-derived codebook, through the exact [[productQuantize]]
   * quantization expression. NOTHING is recomputed from the union:
   * appending the output's (vec_id, code*) rows to the frozen codes
   * table yields the same searchable structure [[ivfPqTopK]] serves
   * from, so ingest cost is O(new batch), not O(corpus) — the property
   * that makes a 100 TB index maintainable. Append parity is pinned in
   * SimilaritySpec.
   *
   * Output, one row per NEW vector: (vec_id, cell, code0..m-1,
   * recon_error) — a single map-side projection over plan-literal
   * centroids + codebook; the only reads of the landed corpus are the
   * two bounded index-build collects (nCells and k rows).
   *
   * @param isNew predicate marking the incoming batch; the frozen index
   *              derives from the complement (the landed corpus)
   */
  def incrementalAssign(embeddings: DataFrame, isNew: Column,
                        nCells: Int = 16, ivfSalt: String = "ivf",
                        cfg: PqConfig = pqDefaults,
                        ivfRounds: Int = IvfTrainRounds): DataFrame = {
    import cfg.m
    val newE = embeddings.filter(isNew)
    freezeAnnIndex(embeddings.filter(!isNew), nCells, ivfSalt, cfg,
        ivfRounds) match {
      case Some(model) => annAssignStateless(newE, model)
      case None =>
        withNorm(newE).select(col("vec_id") +: lit(0L).as("cell") +:
            (0 until m).map(s => lit(0).as(s"code$s")) :+
            lit(0.0).as("recon_error"): _*)
          .filter(lit(false))
    }
  }

  /**
   * A frozen ANN index model — the coarse IVF centroids and the PQ
   * codebook of a landed corpus snapshot, collected once (the two
   * bounded index-build collects of [[incrementalAssign]]) and carried
   * as driver values so assignment becomes a PURE PROJECTION over plan
   * literals. This is the similarity-side sibling of
   * [[graft.text.Retrieval.Bm25Model]]: O(nCells·dim + k·dim) doubles,
   * reusable across any number of batch or streaming assignment passes
   * without touching the corpus again.
   */
  final case class AnnIndexModel(
      cells: IndexedSeq[(Long, Seq[Double], Double)],
      codebook: IndexedSeq[Seq[Double]],
      cfg: PqConfig)

  /**
   * Freeze the ANN index model from a corpus snapshot: the
   * [[ivfHashTopK]] hash-sampled coarse centroids plus the
   * [[productQuantize]] hash-sampled codebook — the exact structures the
   * serving index was built from, so vectors assigned against the model
   * land in the same cells/codes as vectors indexed with the corpus.
   * `None` when the corpus is empty or smaller than the codebook
   * (nothing to freeze — an index over it would not serve anyway).
   *
   * `nCells = AutoCells` scales the IVF width to the corpus via
   * [[scaledCells]] (the r17 frontier policy — a production-size corpus
   * no longer silently builds a 16-cell index) and grows the coarse
   * quantizer's Lloyd sample to 8 rows/cell at wide rungs; explicit
   * widths behave exactly as before (under-k corpora keep the
   * degenerate None/short forms either way).
   */
  def freezeAnnIndex(corpus: DataFrame, nCells: Int = 16,
                     ivfSalt: String = "ivf",
                     cfg: PqConfig = pqDefaults,
                     ivfRounds: Int = IvfTrainRounds): Option[AnnIndexModel] = {
    val eDouble = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val width =
      if (nCells == AutoCells) scaledCells(eDouble.count()) else nCells
    val maxTrain =
      if (nCells == AutoCells) math.max(PqTrainMaxRows, 8 * width)
      else PqTrainMaxRows
    // r22: dim comes off the coarse quantizer's own sampled rows — the
    // freeze is 2 bounded-collect jobs (one combined sample per
    // quantizer), down from 6 (dim probe + 2 per quantizer)
    val icents = ivfCentroids(withNorm(corpus), width, ivfSalt, ivfRounds,
      maxTrain = maxTrain)
    if (icents.isEmpty) return None
    val dataDim = icents.head._2.length
    require(dataDim == cfg.dim,
      s"corpus dim $dataDim != PqConfig.dim ${cfg.dim} — regenerate the " +
        "similarity_incremental oracle with the matching PqConfig")
    val pqCents = resolveCodebook(eDouble, cfg)
    if (pqCents.length < cfg.k) None
    else Some(AnnIndexModel(icents.toIndexedSeq, pqCents.toIndexedSeq, cfg))
  }

  /**
   * Stateless ANN assignment against a frozen [[AnnIndexModel]] — one
   * map-side projection per row: the argmax-cosine IVF cell over the
   * model's centroid literals and the per-subspace struct-min PQ codes
   * over its codebook literals, through the IDENTICAL quantization
   * expressions as [[productQuantize]]/[[incrementalAssign]] (bit-equal
   * codes, pinned in SimilaritySpec). No join, no aggregation, no
   * corpus read — append-safe on an unbounded stream with ZERO state
   * and no watermark, the living-index twin of [[incrementalAssign]] at
   * the ingest boundary: appending the emitted rows to the frozen codes
   * table keeps the [[ivfPqTopK]] serving structure current at
   * O(arrival rate), never O(corpus). Codes match the batch operator
   * row-for-row across microbatch boundaries (StreamingAnnIngestSpec;
   * [[graft.streaming.StreamingCurationJobs.runAnnIngestJob]] is the
   * topic-to-topic job).
   *
   * Input needs (vec_id, embedding); output one row per input vector:
   * (vec_id, cell, code0..m-1, recon_error).
   */
  def annAssignStateless(embeddings: DataFrame,
                         model: AnnIndexModel): DataFrame = {
    val cfg = model.cfg
    withNorm(embeddings)
      .select(col("vec_id") +:
        nearestCell(model.cells.toArray).as("cell") +:
        pqBestCols(model.codebook.toArray, cfg): _*)
      .select(col("vec_id") +: col("cell") +: pqCodeCols(cfg): _*)
  }

  /** [[freezeAnnIndex]] with the codebook trained on RESIDUALS (r20) —
    * the frozen-index form that serves the residual IVF-PQ family: same
    * coarse quantizer and width policy, codebook resolved over
    * x − centroid(cell(x)) of the corpus snapshot. */
  def freezeAnnIndexResidual(corpus: DataFrame, nCells: Int = 16,
                             ivfSalt: String = "ivf",
                             cfg: PqConfig = pqDefaults,
                             ivfRounds: Int = IvfTrainRounds)
      : Option[AnnIndexModel] = {
    val eDouble = corpus.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val width =
      if (nCells == AutoCells) scaledCells(eDouble.count()) else nCells
    val maxTrain =
      if (nCells == AutoCells) math.max(PqTrainMaxRows, 8 * width)
      else PqTrainMaxRows
    // r22: dim off the sampled rows, combined samples per quantizer —
    // 2 bounded-collect jobs instead of 6 (see [[freezeAnnIndex]])
    val icents = ivfCentroids(withNorm(corpus), width, ivfSalt, ivfRounds,
      maxTrain = maxTrain)
    if (icents.isEmpty) return None
    val dataDim = icents.head._2.length
    require(dataDim == cfg.dim,
      s"corpus dim $dataDim != PqConfig.dim ${cfg.dim} — regenerate the " +
        "similarity_incremental_residual oracle with the matching PqConfig")
    val pqCents = resolveCodebook(
      residualAssigned(withNorm(corpus), icents)
        .select(col("vec_id"), col("v")), cfg)
    if (pqCents.length < cfg.k) None
    else Some(AnnIndexModel(icents.toIndexedSeq, pqCents.toIndexedSeq, cfg))
  }

  /** Stateless RESIDUAL assignment against a frozen residual model —
    * [[annAssignStateless]] with the centroid subtraction between the
    * argmax and the quantizer: one map-side projection, zero state,
    * append-safe; codes bit-equal to [[productQuantizeResidual]] against
    * the same structures (SimilaritySpec), and row-equal to
    * [[incrementalAssignResidual]] across microbatch boundaries on a
    * stream (StreamingAnnIngestSpec). */
  def annAssignResidualStateless(embeddings: DataFrame,
                                 model: AnnIndexModel): DataFrame = {
    val cfg = model.cfg
    val cells = model.cells.toArray
    withNorm(embeddings)
      .select(col("vec_id"), col("v"), nearestCell(cells).as("cell"))
      .select(col("vec_id"), col("cell"),
        graft.functions.VectorFunctions.vsub(col("v"),
          element_at(centroidMap(cells), col("cell"))).as("v"))
      .select(col("vec_id") +: col("cell") +:
        pqBestCols(model.codebook.toArray, cfg): _*)
      .select(col("vec_id") +: col("cell") +: pqCodeCols(cfg): _*)
  }

  /** [[incrementalAssign]] with residual encoding — the ingest twin of
    * the registered residual IVF-PQ search family: the landed corpus
    * freezes (coarse cells + residual codebook), the new batch gets
    * cells and residual codes in one map-side pass. */
  def incrementalAssignResidual(embeddings: DataFrame, isNew: Column,
                                nCells: Int = 16, ivfSalt: String = "ivf",
                                cfg: PqConfig = pqDefaults,
                                ivfRounds: Int = IvfTrainRounds): DataFrame = {
    import cfg.m
    val newE = embeddings.filter(isNew)
    freezeAnnIndexResidual(embeddings.filter(!isNew), nCells, ivfSalt, cfg,
        ivfRounds) match {
      case Some(model) => annAssignResidualStateless(newE, model)
      case None =>
        withNorm(newE).select(col("vec_id") +: lit(0L).as("cell") +:
            (0 until m).map(s => lit(0).as(s"code$s")) :+
            lit(0.0).as("recon_error"): _*)
          .filter(lit(false))
    }
  }

  /** DuckDB oracle replicating [[incrementalAssignResidual]] for the
    * batch predicate `vec_id % 10 = 0`: frozen centroids + residual
    * codebook from the corpus complement, applied to the new rows —
    * their cell, their residual against it, their codes. */
  def incrementalAssignResidualOracleSql(nCells: Int = 16,
                                         ivfSalt: String = "ivf",
                                         cfg: PqConfig = pqDefaults,
                                         ivfRounds: Int = IvfTrainRounds): String = {
    import cfg.{m, sub}
    val codeCols = (0 until m)
      .map(s => s"CAST(max(CASE WHEN s = $s THEN cid END) AS INT) AS code$s")
      .mkString(",\n  ")
    val errSum = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN d END)").mkString(" + ")
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |corpus AS (SELECT * FROM en WHERE vec_id % 10 <> 0),
       |corpn AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM corpus),
       |newb AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm
       |  FROM en WHERE vec_id % 10 = 0),
       |${ivfCentsCteSql(nCells, ivfSalt, ivfRounds, "corpus", cfg.dim)},
       |casg0 AS (SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(range(len(e.v)), i ->
       |      e.v[i+1] * c.cv[i+1])) / (e.nrm * c.cnrm), 6) cc
       |  FROM corpn e CROSS JOIN icents c),
       |casg AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM casg0)
       |  WHERE rn = 1),
       |cres AS (SELECT c.vec_id,
       |    list_transform(range(${cfg.dim}), i -> c.v[i+1] - ic.cv[i+1]) AS v
       |  FROM corpus c JOIN casg a ON a.vec_id = c.vec_id
       |  JOIN icents ic ON ic.cid = a.cell),
       |${pqCentsCteSql(cfg, "cres")},
       |asg0 AS (SELECT n.vec_id, c.cid,
       |    round(list_sum(list_transform(range(len(n.v)), i ->
       |      n.v[i+1] * c.cv[i+1])) / (n.nrm * c.cnrm), 6) cc
       |  FROM newb n CROSS JOIN icents c),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1),
       |nres AS (SELECT n.vec_id, a.cell,
       |    list_transform(range(${cfg.dim}), i -> n.v[i+1] - ic.cv[i+1]) AS v
       |  FROM newb n JOIN asg a ON a.vec_id = n.vec_id
       |  JOIN icents ic ON ic.cid = a.cell),
       |sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
       |dists AS (SELECT r.vec_id, r.cell, sp.s, c.cid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (r.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (r.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))), 6) d
       |  FROM nres r CROSS JOIN sp CROSS JOIN pcents c),
       |best AS (SELECT vec_id, cell, s, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d, cid) rn FROM dists)
       |  WHERE rn = 1)
       |SELECT vec_id, CAST(cell AS BIGINT) AS cell,
       |  $codeCols,
       |  round($errSum, 6) AS recon_error
       |FROM best GROUP BY vec_id, cell""".stripMargin
  }

  /**
   * DuckDB oracle replicating [[incrementalAssign]] for the batch
   * predicate `vec_id % 10 = 0`: the IVF assignment CTEs of
   * [[ivfPqTopKOracleSql]] and the code CTEs of
   * [[productQuantizeOracleSql]], both built from the CORPUS complement
   * only and applied to the new rows only.
   */
  def incrementalAssignOracleSql(nCells: Int = 16, ivfSalt: String = "ivf",
                                 cfg: PqConfig = pqDefaults,
                                 ivfRounds: Int = IvfTrainRounds): String = {
    import cfg.{m, k, sub, salt}
    val codeCols = (0 until m)
      .map(s => s"CAST(max(CASE WHEN s = $s THEN cid END) AS INT) AS code$s")
      .mkString(",\n  ")
    val errSum = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN d END)").mkString(" + ")
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |corpus AS (SELECT * FROM en WHERE vec_id % 10 <> 0),
       |newb AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm
       |  FROM en WHERE vec_id % 10 = 0),
       |${ivfCentsCteSql(nCells, ivfSalt, ivfRounds, "corpus", cfg.dim)},
       |asg0 AS (SELECT n.vec_id, c.cid,
       |    round(list_sum(list_transform(range(len(n.v)), i ->
       |      n.v[i+1] * c.cv[i+1])) / (n.nrm * c.cnrm), 6) cc
       |  FROM newb n CROSS JOIN icents c),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1),
       |${pqCentsCteSql(cfg, "corpus")},
       |sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
       |dists AS (SELECT n.vec_id, sp.s, c.cid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (n.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (n.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))), 6) d
       |  FROM newb n CROSS JOIN sp CROSS JOIN pcents c),
       |best AS (SELECT vec_id, s, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d, cid) rn FROM dists)
       |  WHERE rn = 1),
       |codes AS (SELECT vec_id,
       |    $codeCols,
       |    round($errSum, 6) AS recon_error
       |  FROM best GROUP BY vec_id)
       |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
       |  ${(0 until m).map(s => s"c.code$s").mkString(", ")}, c.recon_error
       |FROM asg a JOIN codes c ON a.vec_id = c.vec_id""".stripMargin
  }

  /**
   * The codebook as DuckDB CTEs — `pcents(cid, cv)` over source relation
   * `srcRel(vec_id, v)` — shared by every PQ oracle so they all quantize
   * against the identical codebook the Spark side resolves:
   *
   *  - `cfg.rounds == 0`: the hash-sampled LIMIT-k rows (identical md5
   *    key strings and vec_id tiebreak as [[sampledCodebook]]);
   *  - `cfg.rounds > 0`: the sampled init REFINED by the same unrolled
   *    Lloyd rounds as [[trainPqCodebook]], arithmetic step for step —
   *    assignment by 6-dp-rounded left-to-right (x−c)² folds with the
   *    smaller-cid tie, means as exact int64 sums of floor(x·1e6 + 0.5)
   *    µ-ints divided with the same floor(+0.5) — so the trained
   *    centroids are value-identical doubles in both engines (the
   *    grouped SUM is order-free because the summands are integers);
   *    empty clusters keep their previous centroid via LEFT JOIN.
   */
  /** The D² seed selection as DuckDB CTEs — `{p}cand(pid, v)` (the
    * bounded hash-ordered pool), `{p}cl` (the pool as ONE list-of-lists
    * value) and `{p}sel(chosen)` (the selected pool indices in pick
    * order) — the relational replay of [[d2Seeds]]: one RECURSIVE CTE
    * carries (step, chosen pids, per-candidate min rounded distance);
    * each step updates every candidate's min against the LAST pick
    * (the incremental farthest-point identity) and argmaxes via
    * `list_position(masked, list_max(masked))`, whose FIRST-occurrence
    * semantics is exactly the Scala strict-> tie rule (earliest pool
    * row wins). Chosen rows are masked to −1 so they never re-win. */
  private def d2SeedCtes(k: Int, dim: Int, salt: String, srcRel: String,
                         p: String): String =
    s"""${p}cand AS (SELECT row_number() OVER (
       |    ORDER BY md5('$salt:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS pid, v
       |  FROM $srcRel
       |  ORDER BY md5('$salt:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $D2PoolRows),
       |${p}cl AS (SELECT list(v ORDER BY pid) AS vs, count(*) AS np FROM ${p}cand),
       |${p}sel AS (
       |  WITH RECURSIVE ${p}st(t, chosen, mind) AS (
       |    SELECT 1, [CAST(0 AS BIGINT)],
       |      list_transform(range((SELECT np FROM ${p}cl)),
       |        i -> 1.7976931348623157e308)
       |    UNION ALL
       |    SELECT t + 1,
       |      chosen || [CAST(list_position(ml, list_max(ml)) - 1 AS BIGINT)], nm
       |    FROM (
       |      SELECT t, chosen, nm,
       |        list_transform(range(np), i -> CASE WHEN list_contains(chosen, i)
       |          THEN -1.0 ELSE nm[i+1] END) AS ml
       |      FROM (
       |        SELECT t, chosen, np,
       |          list_transform(range(np), i -> least(mind[i+1],
       |            floor(list_sum(list_transform(range($dim), j ->
       |              (vs[i+1][j+1] - vs[chosen[len(chosen)]+1][j+1])
       |            * (vs[i+1][j+1] - vs[chosen[len(chosen)]+1][j+1])))
       |              * 1000000.0 + 0.5) / 1000000.0)) AS nm
       |        FROM ${p}st, ${p}cl WHERE t < least($k, np)) z1) z2)
       |  SELECT chosen FROM ${p}st ORDER BY t DESC LIMIT 1)""".stripMargin

  /** The (cid, cv) init subquery reading the D² selection: cid = pick
    * ordinal (the [[sampledCodebook]] ordinal convention). */
  private def d2InitSql(p: String): String =
    s"""(SELECT u.ord - 1 AS cid, c.v AS cv
       |  FROM (SELECT unnest(chosen) AS pid,
       |          generate_subscripts(chosen, 1) AS ord FROM ${p}sel) u
       |  JOIN ${p}cand c ON c.pid = u.pid)""".stripMargin

  def pqCentsCteSql(cfg: PqConfig = pqDefaults, srcRel: String = "e",
                    prefix: String = "pqt_",
                    outRel: String = "pcents"): String = {
    import cfg.{m, k, sub, salt, rounds}
    val p = prefix
    val sampled =
      if (cfg.d2Seed) d2InitSql(p)
      else
        s"""(SELECT row_number() OVER (
           |    ORDER BY md5('$salt:' || CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid,
           |    v AS cv
           |  FROM $srcRel
           |  ORDER BY md5('$salt:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)""".stripMargin
    val seedCtes =
      if (cfg.d2Seed) d2SeedCtes(k, cfg.dim, salt, srcRel, p) + ",\n" else ""
    if (rounds == 0) s"$seedCtes$outRel AS $sampled"
    else {
      val roundCtes = (1 to rounds).map { t =>
        s"""${p}cl${t - 1} AS (SELECT s, cid, list(x ORDER BY i) AS cv
           |  FROM ${p}cc${t - 1} GROUP BY s, cid),
           |${p}a$t AS (SELECT vec_id, v, s, cid FROM (
           |    SELECT tr.vec_id, tr.v, cl.s, cl.cid,
           |      row_number() OVER (PARTITION BY tr.vec_id, cl.s ORDER BY
           |        round(list_sum(list_transform(range($sub), i ->
           |          (tr.v[cl.s * $sub + i + 1] - cl.cv[i+1])
           |          * (tr.v[cl.s * $sub + i + 1] - cl.cv[i+1]))), 6), cl.cid) rn
           |    FROM ${p}tr tr CROSS JOIN ${p}cl${t - 1} cl) WHERE rn = 1),
           |${p}m$t AS (SELECT a.s, a.cid, ix.i,
           |    sum(CAST(floor(a.v[a.s * $sub + ix.i + 1] * 1e6 + 0.5) AS BIGINT)) AS sm,
           |    count(*) AS cnt
           |  FROM ${p}a$t a CROSS JOIN ${p}ix ix
           |  GROUP BY a.s, a.cid, ix.i),
           |${p}cc$t AS (SELECT c.s, c.cid, c.i,
           |    CASE WHEN mm.cnt IS NULL THEN c.x
           |         ELSE floor(CAST(mm.sm AS DOUBLE) / mm.cnt + 0.5) / 1e6 END AS x
           |  FROM ${p}cc${t - 1} c LEFT JOIN ${p}m$t mm
           |    ON mm.s = c.s AND mm.cid = c.cid AND mm.i = c.i)""".stripMargin
      }.mkString(",\n")
      s"""$seedCtes${p}tr AS (SELECT vec_id, v FROM $srcRel
         |  ORDER BY md5('${salt}t:' || CAST(vec_id AS VARCHAR)), vec_id
         |  LIMIT $PqTrainMaxRows),
         |${p}init AS $sampled,
         |${p}sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
         |${p}ix AS (SELECT unnest(range($sub)) AS i),
         |${p}cc0 AS (SELECT sp.s, c.cid, ix.i, c.cv[sp.s * $sub + ix.i + 1] AS x
         |  FROM ${p}init c CROSS JOIN ${p}sp sp CROSS JOIN ${p}ix ix),
         |$roundCtes,
         |$outRel AS (SELECT cid, list(x ORDER BY j) AS cv FROM (
         |    SELECT cid, s * $sub + i AS j, x FROM ${p}cc$rounds) z
         |  GROUP BY cid)""".stripMargin
    }
  }

  /**
   * DuckDB oracle replicating [[productQuantize]]: same codebook CTEs
   * ([[pqCentsCteSql]] — sampled init plus the configured Lloyd
   * rounds), same per-subspace rounded squared distances, same (d, cid)
   * argmin order, same pivoted output — relational form, no literals
   * needed.
   */
  def productQuantizeOracleSql(cfg: PqConfig = pqDefaults): String = {
    import cfg.{m, k, sub, salt}
    val codeCols = (0 until m)
      .map(s => s"CAST(max(CASE WHEN s = $s THEN cid END) AS INT) AS code$s")
      .mkString(",\n  ")
    val errSum = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN d END)").mkString(" + ")
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |${pqCentsCteSql(cfg, "e")},
       |sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
       |dists AS (SELECT e.vec_id, sp.s, c.cid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (e.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (e.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))), 6) d
       |  FROM e CROSS JOIN sp CROSS JOIN pcents c),
       |best AS (SELECT vec_id, s, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d, cid) rn FROM dists)
       |  WHERE rn = 1)
       |SELECT vec_id,
       |  $codeCols,
       |  round($errSum, 6) AS recon_error
       |FROM best GROUP BY vec_id""".stripMargin
  }

  /**
   * ADC (asymmetric distance computation) top-k over the PQ codes — the
   * search half of the IVF-PQ stack: each of the `nQueries` query vectors
   * precomputes an m×k lookup table of exact squared distances from its
   * subvectors to every codebook centroid, and every database vector's
   * approximate distance is then the sum of m TABLE LOOKUPS indexed by
   * its stored codes — the corpus vectors themselves are never read.
   * Output (query_id, neighbor_id, adc_dist, rank) with rank by
   * (distance asc, neighbor_id asc), self excluded.
   *
   * Scale shape: the lookup tables are nQueries·m·k scalars folded into
   * the plan as ARRAY LITERALS (distances pre-scaled to exact µ-unit
   * longs, so the m-way sum is integer — summation-order-proof for the
   * oracle), making the whole scoring pass a map-side projection over
   * the CODES table (m ints per row instead of dim floats — the entire
   * point of PQ at 100 TB). No join, no aggregation; the only shuffle is
   * the per-query top-k window, the same shape as [[bruteForceTopK]].
   *
   * @param sharedCodes a caller-memoized [[productQuantize]] output over
   *                    the SAME embeddings and cfg (rebuilt when absent)
   */
  /** One query's ADC lookup row for subspace `s`: k exact subvector
    * distances to every codebook centroid, µ-scaled to exact longs
    * (round half-up == the oracle's round-half-away on >= 0). Shared by
    * [[adcTopK]] and [[ivfPqTopK]]. */
  private def adcLut(qv: Seq[Double], s: Int, cents: Array[Seq[Double]],
                     cfg: PqConfig): Seq[Long] =
    // cents.length, not cfg.k: an under-k corpus resolves to a SHORT
    // codebook (every row a codebook entry) and the LUT must match it
    (cents.indices).map { cid =>
      var d = 0.0
      var i = 0
      while (i < cfg.sub) {
        val x = qv(s * cfg.sub + i) - cents(cid)(s * cfg.sub + i)
        d += x * x
        i += 1
      }
      math.round(d * 1e6)
    }

  def adcTopK(embeddings: DataFrame, nQueries: Int = 8, topK: Int = 5,
              cfg: PqConfig = pqDefaults,
              sharedCodes: Option[DataFrame] = None,
              codebook: Option[Array[Seq[Double]]] = None): DataFrame = {
    import cfg.m
    val codes = sharedCodes.getOrElse(productQuantize(embeddings, cfg))
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val empty = codes
      .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0.0).as("adc_dist"), lit(0).as("rank"))
      .filter(lit(false))
    if (embeddingDim(e) == -1) return empty
    val cents = codebook.getOrElse(resolveCodebook(e, cfg))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("v")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    if (queries.isEmpty) return empty
    // per-SUBSPACE qid→lut map literals (the ivfPqSearch literal-path
    // shape): m nested element_at chains per row regardless of the
    // query count — the former per-(query, subspace) element_at lattice
    // was nQueries·m nodes and pushed the generated method past the
    // HotSpot JIT ceiling (CodegenAudit). Same integer lookups, same
    // sums — value-identical.
    val lutMaps = (0 until m).map { s =>
      typedLit(queries.map { case (qid, qv) =>
        qid -> adcLut(qv, s, cents, cfg)
      }.toMap)
    }
    val dl = (0 until m).map(s =>
      element_at(element_at(lutMaps(s), col("query_id")), col(s"code$s") + 1))
      .reduceLeft(_ + _)
    codes
      .withColumnRenamed("vec_id", "neighbor_id")
      .withColumn("query_id", explode(typedLit(queries.map(_._1).toSeq)))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(dl / lit(1e6), 6).as("adc_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }

  /**
   * Batch-query ADC top-k — the LUT-TABLE form of [[adcTopK]] for LARGE
   * standing query sets. [[adcTopK]] folds every query's m×k lookup
   * table into the plan as array LITERALS: correct and join-free for
   * dozens of queries, but the plan (and its generated code) grows
   * linearly with the query count, so thousands of standing queries
   * bloat codegen. Here the lookup tables are computed as a DATAFRAME —
   * one row per query carrying a flat m·k µ-unit long array — and
   * BROADCAST cross-joined against the stored codes; the per-pair
   * distance is then the same m integer `element_at` lookups, indexed as
   * `s·k + code_s`. Plan size is bounded by the CODEBOOK alone (k·dim
   * doubles — the m·k `subdist2` nodes that compute the LUT rows),
   * independent of the query count; the query set costs broadcast BYTES,
   * not plan nodes (asserted in SimilaritySpec: the optimized plan does
   * not grow with nQueries; in PlanShapeSpec: the join is a broadcast,
   * on the whitelist of intentional broadcast-small-side joins).
   *
   * Row-for-row identical to [[adcTopK]] over the same corpus/config —
   * same deterministic codebook, same left-to-right `subdist2`
   * accumulation driving the same half-up µ-rounding, same integer sum,
   * same (distance, neighbor_id) rank — pinned in SimilaritySpec and by
   * the registered `similarity_pq_batchq` oracle, which IS
   * [[adcTopKOracleSql]] at the batch query count.
   *
   * @param sharedCodes a caller-memoized [[productQuantize]] output over
   *                    the SAME embeddings and cfg (rebuilt when absent)
   */
  def adcTopKBatch(embeddings: DataFrame, nQueries: Int = 128, topK: Int = 5,
                   cfg: PqConfig = pqDefaults,
                   sharedCodes: Option[DataFrame] = None,
                   codebook: Option[Array[Seq[Double]]] = None): DataFrame = {
    import cfg.{m, k, sub}
    val codes = sharedCodes.getOrElse(productQuantize(embeddings, cfg))
    val e = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val empty = codes
      .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0.0).as("adc_dist"), lit(0).as("rank"))
      .filter(lit(false))
    if (embeddingDim(e) == -1) return empty
    val cents = codebook.getOrElse(resolveCodebook(e, cfg))
    // one LUT row per query: entry s·kEff+cid = µ-scaled exact squared
    // distance from the query's subvector s to centroid cid (kEff =
    // actual codebook length — an under-k corpus resolves short). The
    // PqAdcLut loop accumulates left-to-right like the driver-side
    // adcLut loop with the identical BigDecimal HALF_UP rounding, so
    // entries are bit-equal to the literal form's.
    val kEff = cents.length
    val lutArr = concat((0 until m).map(s =>
      graft.functions.VectorFunctions.pqAdcLut(col("v"),
        typedLit(cents.toSeq.map(_.slice(s * sub, (s + 1) * sub))),
        lit(s * sub))): _*)
    val luts = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), lutArr.as("__lut"))
    val dl = (0 until m)
      .map(s => element_at(col("__lut"), lit(s * kEff) + col(s"code$s") + 1))
      .reduceLeft(_ + _)
    codes
      .crossJoin(broadcast(luts))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dl / lit(1e6), 6).as("adc_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }

  /**
   * DuckDB oracle replicating [[adcTopK]] relationally: the same
   * hash-sampled codebook and code assignment CTEs as
   * [[productQuantizeOracleSql]], the same µ-scaled integer lookup
   * tables (so the m-way sum is exact in both engines regardless of
   * order), the same (distance, neighbor_id) rank.
   */
  def adcTopKOracleSql(nQueries: Int = 8, topK: Int = 5,
                       cfg: PqConfig = pqDefaults): String = {
    import cfg.{m, k, sub, salt}
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |${pqCentsCteSql(cfg, "e")},
       |sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
       |dists AS (SELECT e.vec_id, sp.s, c.cid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (e.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (e.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))), 6) d
       |  FROM e CROSS JOIN sp CROSS JOIN pcents c),
       |best AS (SELECT vec_id, s, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d, cid) rn FROM dists)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $nQueries),
       |lut AS (SELECT q.query_id, sp.s, c.cid,
       |    CAST(round(list_sum(list_transform(range($sub), i ->
       |      (q.qv[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (q.qv[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))) * 1e6)
       |      AS BIGINT) dl
       |  FROM q CROSS JOIN sp CROSS JOIN pcents c),
       |adc AS (SELECT l.query_id, b.vec_id AS neighbor_id,
       |    CAST(sum(l.dl) AS BIGINT) AS sdl
       |  FROM best b JOIN lut l ON l.s = b.s AND l.cid = b.cid
       |  WHERE b.vec_id <> l.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, round(sdl / 1000000.0, 6) AS adc_dist,
       |       CAST(rank AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sdl, neighbor_id) rank FROM adc)
       |WHERE rank <= $topK""".stripMargin
  }

  /**
   * IVF-PQ composite search — the canonical billion-scale ANN stack,
   * assembled from the two verified halves: the [[ivfHashTopK]] coarse
   * quantizer restricts each query to its `nProbe` best cells (by
   * centroid cosine, identical assignment/tie rules), and candidates are
   * scored by ADC over the STORED PQ codes ([[adcTopK]]'s lookup tables)
   * — the corpus vectors are read only to build the index, never at
   * search time. Output (query_id, neighbor_id, adc_dist, rank).
   *
   * Scale shape: cell assignment and probe selection are map-side over
   * plan-literal centroids; the candidate step is an equi-join of the
   * assignment sliver against the BROADCAST probe list; ADC scoring
   * fetches only the candidates' code rows (equi-join the optimizer
   * sizes — candidates ≪ corpus by nProbe/nCells) and sums m map-literal
   * lookups per row. SimilaritySpec asserts the two composition
   * invariants: neighbors only come from probed cells, and probing every
   * cell reproduces the full [[adcTopK]] scan row-for-row. (Recall vs
   * exact search is data-dependent — hash-sampled codebooks over iid
   * random test vectors quantize to chance — so it is not pinned here;
   * on clustered corpora tune `cfg.k`/`nProbe` against
   * [[bruteForceTopK]] the same way lshTopK's recall spec does.)
   */
  def ivfPqTopK(embeddings: DataFrame, nQueries: Int = 8, topK: Int = 5,
                nCells: Int = 16, nProbe: Int = 4, ivfSalt: String = "ivf",
                cfg: PqConfig = pqDefaults,
                sharedCodes: Option[DataFrame] = None,
                codebook: Option[Array[Seq[Double]]] = None,
                ivfRounds: Int = IvfTrainRounds,
                cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame =
    ivfPqSearch(embeddings, nQueries, topK, nCells, nProbe, ivfSalt, cfg,
      sharedCodes, batchLut = false, codebook, ivfRounds, cells)

  /**
   * IVF+PQ with an EXACT re-rank tail — the Faiss `refine` stage: ADC
   * ranks a `rerankDepth`-deep shortlist per query, the TRUE vectors of
   * just that shortlist are fetched (broadcast of the nQueries×R id
   * list into the corpus scan — O(shortlist) exact distance work, never
   * O(corpus)), and exact rounded cosine re-ranks to `topK` with the
   * brute-force tie rule. Recovers the ordering the coarse codebook
   * surrenders WITHIN the shortlist (measured next to the unrefined
   * form in `ann_recall_audit`; on iid random vectors the shortlist
   * membership itself stays ADC-limited — see [[ivfPqTopK]]'s recall
   * note). Output (query_id, neighbor_id, cosine, rank) — the
   * brute-force shape, since scores are true cosines again.
   */
  def ivfPqTopKRefined(embeddings: DataFrame, nQueries: Int = 8,
                       topK: Int = 5, rerankDepth: Int = 100,
                       nCells: Int = 16, nProbe: Int = 4,
                       ivfSalt: String = "ivf",
                       cfg: PqConfig = pqDefaults,
                       sharedCodes: Option[DataFrame] = None,
                       codebook: Option[Array[Seq[Double]]] = None,
                       ivfRounds: Int = IvfTrainRounds,
                       cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    val shortlist = ivfPqTopK(embeddings, nQueries, rerankDepth, nCells,
        nProbe, ivfSalt, cfg, sharedCodes, codebook, ivfRounds, cells)
      .select(col("query_id"), col("neighbor_id"))
    exactCosineRerank(embeddings, shortlist, nQueries, topK)
  }

  /** The Faiss `refine` tail shared by every shortlist-producing search
    * ([[ivfPqTopKRefined]], [[ivfPqResidualTopKRefined]]): fetch the
    * TRUE vectors of just the shortlist (broadcast of the nQueries×R id
    * list into the corpus scan — O(shortlist) exact distance work,
    * never O(corpus)) and re-rank by exact rounded cosine with the
    * brute-force tie rule. */
  private def exactCosineRerank(embeddings: DataFrame, shortlist: DataFrame,
                                nQueries: Int, topK: Int): DataFrame = {
    val e = withNorm(embeddings)
    val cand = e.alias("n")
      .join(broadcast(shortlist.alias("s")),
        col("n.vec_id") === col("s.neighbor_id"))
      .select(col("s.query_id").as("query_id"),
        col("n.vec_id").as("neighbor_id"),
        col("n.v").as("nv"), col("n.nrm").as("nnrm"))
    val queries = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"))
    cand.alias("c")
      .join(broadcast(queries.alias("q")),
        col("c.query_id") === col("q.query_id"))
      .select(col("c.query_id").as("query_id"), col("neighbor_id"),
        round(dot(col("q.qv"), col("c.nv")) / (col("q.qnrm") * col("c.nnrm")), 6)
          .as("cosine"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }

  /**
   * Batch-standing-query IVF-PQ — [[ivfPqTopK]] with the LUT-TABLE
   * strategy of [[adcTopKBatch]]: the per-query lookup tables travel as
   * a BROADCAST frame equi-joined on `query_id` (no map literals, no
   * cross join anywhere — probe selection was already relational), so
   * the plan stays bounded by the centroid/codebook literals however
   * many queries stand. Candidate generation, tie rules and µ-scaled
   * arithmetic are the SAME CODE as the literal form (one shared
   * implementation), so the two can never diverge — pinned row-for-row
   * in SimilaritySpec and by the `similarity_ivfpq_batchq` oracle
   * ([[ivfPqTopKOracleSql]] at the batch query count).
   */
  def ivfPqTopKBatch(embeddings: DataFrame, nQueries: Int = 128,
                     topK: Int = 5, nCells: Int = 16, nProbe: Int = 4,
                     ivfSalt: String = "ivf", cfg: PqConfig = pqDefaults,
                     sharedCodes: Option[DataFrame] = None,
                     codebook: Option[Array[Seq[Double]]] = None,
                     ivfRounds: Int = IvfTrainRounds,
                     cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame =
    ivfPqSearch(embeddings, nQueries, topK, nCells, nProbe, ivfSalt, cfg,
      sharedCodes, batchLut = true, codebook, ivfRounds, cells)

  /** Shared IVF-PQ implementation: `batchLut` picks how the per-query
    * ADC lookup tables reach the scoring row — plan-literal maps
    * (collect-at-build, right for dozens of queries) vs a broadcast LUT
    * frame (plan stays query-count-independent, right for thousands).
    * Everything else — coarse assignment, probe ranking, candidate
    * joins, rank tie rules — is one code path. */
  private def ivfPqSearch(embeddings: DataFrame, nQueries: Int, topK: Int,
                          nCells: Int, nProbe: Int, ivfSalt: String,
                          cfg: PqConfig, sharedCodes: Option[DataFrame],
                          batchLut: Boolean,
                          codebook: Option[Array[Seq[Double]]] = None,
                          ivfRounds: Int = IvfTrainRounds,
                          cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    import cfg.{m, k, sub}
    val codes = sharedCodes.getOrElse(productQuantize(embeddings, cfg))
    val e = withNorm(embeddings)
    val empty = codes
      .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0.0).as("adc_dist"), lit(0).as("rank"))
      .filter(lit(false))
    val icents = cells.getOrElse(ivfCentroids(e, nCells, ivfSalt, ivfRounds))
    if (icents.isEmpty) return empty
    val eDouble = embeddings.select(col("vec_id"), asDouble(col("embedding")).as("v"))
    val pqCents = codebook.getOrElse(resolveCodebook(eDouble, cfg))
    // same argmax/probe construction (and tie rules) as ivfHashTopK
    val scores = cellScores(icents)
    val assigned = e.select(col("vec_id"),
      nearestCell(icents).as("cell"))
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), explode(scores).as("cs"))
      .select(col("query_id"), col("cs").getItem(0).as("cc"),
        col("cs").getItem(1).cast("long").as("cell"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cc").desc, col("cell"))))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("cell"))
    val candidates = assigned
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .join(codes.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
    val scored =
      if (batchLut) {
        val kEff = pqCents.length
        val lutArr = concat((0 until m).map(s =>
          graft.functions.VectorFunctions.pqAdcLut(col("v"),
            typedLit(pqCents.toSeq.map(_.slice(s * sub, (s + 1) * sub))),
            lit(s * sub))): _*)
        val luts = eDouble.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), lutArr.as("__lut"))
        val dl = (0 until m)
          .map(s => element_at(col("__lut"), lit(s * kEff) + col(s"code$s") + 1))
          .reduceLeft(_ + _)
        candidates.join(broadcast(luts), Seq("query_id"))
          .select(col("query_id"), col("neighbor_id"),
            round(dl / lit(1e6), 6).as("adc_dist"))
      } else {
        val queries = eDouble.filter(col("vec_id") < nQueries)
          .select(col("vec_id"), col("v")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
        if (queries.isEmpty) return empty
        val lutMaps = (0 until m).map { s =>
          typedLit(queries.map { case (qid, qv) =>
            qid -> adcLut(qv, s, pqCents, cfg)
          }.toMap)
        }
        val dl = (0 until m).map(s =>
          element_at(element_at(lutMaps(s), col("query_id")), col(s"code$s") + 1))
          .reduceLeft(_ + _)
        candidates.select(col("query_id"), col("neighbor_id"),
          round(dl / lit(1e6), 6).as("adc_dist"))
      }
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }

  /**
   * DuckDB oracle replicating [[ivfPqTopK]]: the IVF assignment/probe
   * CTEs from the similarity_ivf oracle (same rounding and tie rules)
   * composed with the PQ code/lookup CTEs from [[adcTopKOracleSql]].
   */
  def ivfPqTopKOracleSql(nQueries: Int = 8, topK: Int = 5,
                         nCells: Int = 16, nProbe: Int = 4,
                         ivfSalt: String = "ivf",
                         cfg: PqConfig = pqDefaults,
                         ivfRounds: Int = IvfTrainRounds): String = {
    import cfg.{m, k, sub, salt}
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |e AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM en),
       |${ivfCentsCteSql(nCells, ivfSalt, ivfRounds, "en", cfg.dim)},
       |asg0 AS (SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(range(len(e.v)), i ->
       |      e.v[i+1] * c.cv[i+1])) / (e.nrm * c.cnrm), 6) cc
       |  FROM e CROSS JOIN icents c),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1),
       |pr AS (SELECT vec_id query_id, cid cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cc DESC, cid) rn
       |    FROM asg0 WHERE vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |${pqCentsCteSql(cfg, "en")},
       |sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
       |dists AS (SELECT en.vec_id, sp.s, c.cid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (en.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (en.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))), 6) d
       |  FROM en CROSS JOIN sp CROSS JOIN pcents c),
       |best AS (SELECT vec_id, s, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d, cid) rn FROM dists)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM en WHERE vec_id < $nQueries),
       |lut AS (SELECT q.query_id, sp.s, c.cid,
       |    CAST(round(list_sum(list_transform(range($sub), i ->
       |      (q.qv[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (q.qv[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))) * 1e6)
       |      AS BIGINT) dl
       |  FROM q CROSS JOIN sp CROSS JOIN pcents c),
       |cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
       |  FROM asg a JOIN pr p ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |adc AS (SELECT cand.query_id, cand.neighbor_id,
       |    CAST(sum(l.dl) AS BIGINT) AS sdl
       |  FROM cand
       |  JOIN best b ON b.vec_id = cand.neighbor_id
       |  JOIN lut l ON l.query_id = cand.query_id
       |    AND l.s = b.s AND l.cid = b.cid
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, round(sdl / 1000000.0, 6) AS adc_dist,
       |       CAST(rank AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sdl, neighbor_id) rank FROM adc)
       |WHERE rank <= $topK""".stripMargin
  }

  // ======================= Residual IVF-PQ (r20) =======================
  //
  // Encode x − centroid(cell(x)) instead of x — the Faiss-default recall
  // lever: coarse assignment removes the cluster-center component, so the
  // PQ codebook spends its k codes on the (much tighter) residual
  // distribution instead of re-describing the cell layout the IVF half
  // already captured. ADC then needs the QUERY residual against each
  // probed cell's centroid, so the lookup tables are per (query, cell)
  // and travel as a broadcast frame equi-joined on both keys (the
  // adcTopKBatch LUT-table strategy — the plan stays bounded by the
  // centroid/codebook literals at any query count).

  /** cell-id → full-width centroid coordinate map literal (one node). */
  private def centroidMap(cents: Array[(Long, Seq[Double], Double)]): Column =
    typedLit(cents.map { case (cid, cv, _) => cid -> cv }.toMap)

  /** (vec_id, cell, v = x − centroid(cell(x))) — one map-side projection
    * over plan-literal centroids: codegen'd argmax ([[nearestCell]])
    * then the codegen'd element-wise subtract
    * ([[graft.functions.VectorFunctions.vsub]]); no shuffle, no join.
    * Subtraction is one exact IEEE op per element, so the residuals are
    * bit-identical to the oracle's `list_transform` subtraction. */
  private def residualAssigned(e: DataFrame,
                               icents: Array[(Long, Seq[Double], Double)])
      : DataFrame =
    e.select(col("vec_id"), col("v"), nearestCell(icents).as("cell"))
      .select(col("vec_id"), col("cell"),
        graft.functions.VectorFunctions.vsub(col("v"),
          element_at(centroidMap(icents), col("cell"))).as("v"))

  /** The PQ codebook trained on RESIDUALS — same deterministic µ-int
    * Lloyd ([[trainPqCodebook]]'s `resolveCodebook`), same bounded
    * hash-ordered sample rows (ordering is by `md5(salt:vec_id)`, so the
    * SAME documents train both forms — only the vectors they contribute
    * change), over the residual frame. A production index trains this
    * once per (coarse quantizer, corpus) and serves it to
    * [[productQuantizeResidual]] and every residual search. */
  def residualCodebook(embeddings: DataFrame, cfg: PqConfig = pqDefaults,
                       nCells: Int = 16, ivfSalt: String = "ivf",
                       ivfRounds: Int = IvfTrainRounds,
                       cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : Array[Seq[Double]] = {
    val e = withNorm(embeddings)
    val icents = cells.getOrElse(ivfCentroids(e, nCells, ivfSalt, ivfRounds))
    if (icents.isEmpty) Array.empty
    else resolveCodebook(
      residualAssigned(e, icents).select(col("vec_id"), col("v")), cfg)
  }

  /**
   * Residual PQ codes — [[productQuantize]] over the residual frame:
   * one row per vector with its coarse cell AND its m residual codes +
   * reconstruction error. The `cell` column rides along because the
   * codes are only decodable against their cell's centroid (store them
   * together, exactly like a Faiss IVF list entry).
   *
   * Scale shape: identical to [[productQuantize]] — assignment, residual
   * subtraction and quantization are ONE map-side codegen'd pass over
   * plan-literal centroids/codebooks; no shuffle anywhere.
   */
  def productQuantizeResidual(embeddings: DataFrame,
                              cfg: PqConfig = pqDefaults,
                              nCells: Int = 16, ivfSalt: String = "ivf",
                              ivfRounds: Int = IvfTrainRounds,
                              codebook: Option[Array[Seq[Double]]] = None,
                              cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    import cfg.m
    val e = withNorm(embeddings)
    val empty = e.select(col("vec_id") +: lit(0L).as("cell") +:
        (0 until m).map(s => lit(0).as(s"code$s")) :+
        lit(0.0).as("recon_error"): _*)
      .filter(lit(false))
    val icents = cells.getOrElse(ivfCentroids(e, nCells, ivfSalt, ivfRounds))
    if (icents.isEmpty) return empty
    val dataDim = embeddingDim(e)
    require(dataDim == cfg.dim,
      s"corpus dim $dataDim != PqConfig.dim ${cfg.dim} — regenerate the " +
        "embedding_pq_residual oracle with the matching PqConfig")
    val cents = codebook.getOrElse(residualCodebook(embeddings, cfg,
      nCells, ivfSalt, ivfRounds, Some(icents)))
    val res = residualAssigned(e, icents)
    res.select(col("vec_id") +: col("cell") +: pqBestCols(cents, cfg): _*)
      .select(col("vec_id") +: col("cell") +: pqCodeCols(cfg): _*)
  }

  /**
   * Residual IVF-PQ top-k — [[ivfPqTopK]] with residual encoding (the
   * r20 recall fix: the absolute form's ADC plateaued at the plain-IVF
   * ceiling because PQ re-described the cell layout; see the
   * residual-vs-flat ladder receipt in BASELINE.md). Probe selection,
   * candidate generation and every tie rule are the ivfPq family's;
   * scoring joins the per-(query, probe-cell) residual LUT frame as a
   * BROADCAST on the (query_id, cell) equi key — a neighbor's codes
   * encode its residual against its own cell, and candidates only pair
   * a query with neighbors IN a probed cell, so the LUT cell is always
   * the neighbor's cell.
   */
  def ivfPqResidualTopK(embeddings: DataFrame, nQueries: Int = 8,
                        topK: Int = 5, nCells: Int = 16, nProbe: Int = 4,
                        ivfSalt: String = "ivf", cfg: PqConfig = pqDefaults,
                        sharedCodes: Option[DataFrame] = None,
                        codebook: Option[Array[Seq[Double]]] = None,
                        ivfRounds: Int = IvfTrainRounds,
                        cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    import cfg.{m, sub}
    val e = withNorm(embeddings)
    val empty = e
      .select(col("vec_id").as("query_id"), col("vec_id").as("neighbor_id"),
        lit(0.0).as("adc_dist"), lit(0).as("rank"))
      .filter(lit(false))
    val icents = cells.getOrElse(ivfCentroids(e, nCells, ivfSalt, ivfRounds))
    if (icents.isEmpty) return empty
    val pqCents = codebook.getOrElse(residualCodebook(embeddings, cfg,
      nCells, ivfSalt, ivfRounds, Some(icents)))
    if (pqCents.isEmpty) return empty
    val kEff = pqCents.length
    val codes = sharedCodes.getOrElse(productQuantizeResidual(embeddings,
      cfg, nCells, ivfSalt, ivfRounds, Some(pqCents), Some(icents)))
    // same probe construction (and tie rules) as ivfPqSearch
    val scores = cellScores(icents)
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), explode(scores).as("cs"))
      .select(col("query_id"), col("cs").getItem(0).as("cc"),
        col("cs").getItem(1).cast("long").as("cell"))
      .withColumn("__r", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cc").desc, col("cell"))))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("cell"))
    // per-(query, probe cell) residual LUTs — a tiny broadcast frame
    val eDouble = embeddings.select(col("vec_id"),
      asDouble(col("embedding")).as("v"))
    val cvMap = centroidMap(icents)
    val lutArr = concat((0 until m).map(s =>
      graft.functions.VectorFunctions.pqAdcLut(col("qv"),
        typedLit(pqCents.toSeq.map(_.slice(s * sub, (s + 1) * sub))),
        lit(s * sub))): _*)
    val luts = probes
      .join(eDouble.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("v")), Seq("query_id"))
      .select(col("query_id"), col("cell"),
        graft.functions.VectorFunctions.vsub(col("v"),
          element_at(cvMap, col("cell"))).as("qv"))
      .select(col("query_id"), col("cell"), lutArr.as("__lut"))
    val candidates = codes.withColumnRenamed("vec_id", "neighbor_id")
      .join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
    val dl = (0 until m)
      .map(s => element_at(col("__lut"), lit(s * kEff) + col(s"code$s") + 1))
      .reduceLeft(_ + _)
    candidates
      .join(broadcast(luts), Seq("query_id", "cell"))
      .select(col("query_id"), col("neighbor_id"),
        round(dl / lit(1e6), 6).as("adc_dist"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("adc_dist"), col("neighbor_id"))))
      .filter(col("rank") <= topK)
  }

  /** Residual IVF-PQ with the exact re-rank tail — [[ivfPqTopKRefined]]
    * over the residual shortlist (the shared [[exactCosineRerank]]). */
  def ivfPqResidualTopKRefined(embeddings: DataFrame, nQueries: Int = 8,
                               topK: Int = 5, rerankDepth: Int = 100,
                               nCells: Int = 16, nProbe: Int = 4,
                               ivfSalt: String = "ivf",
                               cfg: PqConfig = pqDefaults,
                               sharedCodes: Option[DataFrame] = None,
                               codebook: Option[Array[Seq[Double]]] = None,
                               ivfRounds: Int = IvfTrainRounds,
                               cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    val shortlist = ivfPqResidualTopK(embeddings, nQueries, rerankDepth,
        nCells, nProbe, ivfSalt, cfg, sharedCodes, codebook, ivfRounds, cells)
      .select(col("query_id"), col("neighbor_id"))
    exactCosineRerank(embeddings, shortlist, nQueries, topK)
  }

  /** The residual frame as DuckDB CTEs: `asg0/asg` (the ivfPq oracle's
    * assignment, verbatim) + `res(vec_id, cell, v)` — one exact IEEE
    * subtraction per element against the assigned centroid. Assumes
    * `en(vec_id, v)`, `e(vec_id, v, nrm)` and `icents(cid, cv, cnrm)`
    * are in scope. */
  private def residualCteSql(nQueries: Int, nProbe: Int, dim: Int): String =
    s"""asg0 AS (SELECT e.vec_id, c.cid,
       |    round(list_sum(list_transform(range(len(e.v)), i ->
       |      e.v[i+1] * c.cv[i+1])) / (e.nrm * c.cnrm), 6) cc
       |  FROM e CROSS JOIN icents c),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1),
       |pr AS (SELECT vec_id query_id, cid cell FROM (
       |    SELECT vec_id, cid,
       |      row_number() OVER (PARTITION BY vec_id
       |        ORDER BY cc DESC, cid) rn
       |    FROM asg0 WHERE vec_id < $nQueries)
       |  WHERE rn <= $nProbe),
       |res AS (SELECT en.vec_id, a.cell,
       |    list_transform(range($dim), i -> en.v[i+1] - c.cv[i+1]) AS v
       |  FROM en JOIN asg a ON a.vec_id = en.vec_id
       |  JOIN icents c ON c.cid = a.cell)""".stripMargin

  /**
   * DuckDB oracle replicating [[productQuantizeResidual]]: the ivfPq
   * oracle's coarse-assignment CTEs, the residual subtraction, then the
   * PQ code/training CTEs ([[pqCentsCteSql]]) TRAINED ON the residual
   * relation — the centroid subtraction the r19 verdict asked the
   * lattice to gain.
   */
  def productQuantizeResidualOracleSql(cfg: PqConfig = pqDefaults,
                                       nCells: Int = 16,
                                       ivfSalt: String = "ivf",
                                       ivfRounds: Int = IvfTrainRounds): String = {
    import cfg.{m, sub}
    val codeCols = (0 until m)
      .map(s => s"CAST(max(CASE WHEN s = $s THEN cid END) AS INT) AS code$s")
      .mkString(",\n  ")
    val errSum = (0 until m)
      .map(s => s"max(CASE WHEN s = $s THEN d END)").mkString(" + ")
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |e AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM en),
       |${ivfCentsCteSql(nCells, ivfSalt, ivfRounds, "en", cfg.dim)},
       |${residualCteSql(0, 0, cfg.dim)},
       |${pqCentsCteSql(cfg, "res")},
       |sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
       |dists AS (SELECT r.vec_id, r.cell, sp.s, c.cid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (r.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (r.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))), 6) d
       |  FROM res r CROSS JOIN sp CROSS JOIN pcents c),
       |best AS (SELECT vec_id, cell, s, cid, d FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d, cid) rn FROM dists)
       |  WHERE rn = 1)
       |SELECT vec_id, cell,
       |  $codeCols,
       |  round($errSum, 6) AS recon_error
       |FROM best GROUP BY vec_id, cell""".stripMargin
  }

  /**
   * DuckDB oracle replicating [[ivfPqResidualTopK]]: the residual codes
   * lattice above + per-(query, probe cell) residual lookup tables and
   * the (query_id, cell)-keyed ADC sum.
   */
  def ivfPqResidualTopKOracleSql(nQueries: Int = 8, topK: Int = 5,
                                 nCells: Int = 16, nProbe: Int = 4,
                                 ivfSalt: String = "ivf",
                                 cfg: PqConfig = pqDefaults,
                                 ivfRounds: Int = IvfTrainRounds): String = {
    import cfg.{m, sub}
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |e AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM en),
       |${ivfCentsCteSql(nCells, ivfSalt, ivfRounds, "en", cfg.dim)},
       |${residualCteSql(nQueries, nProbe, cfg.dim)},
       |${pqCentsCteSql(cfg, "res")},
       |sp AS (SELECT unnest([${(0 until m).mkString(", ")}]) AS s),
       |dists AS (SELECT r.vec_id, sp.s, c.cid,
       |    round(list_sum(list_transform(range($sub), i ->
       |      (r.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (r.v[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))), 6) d
       |  FROM res r CROSS JOIN sp CROSS JOIN pcents c),
       |best AS (SELECT vec_id, s, cid FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id, s
       |      ORDER BY d, cid) rn FROM dists)
       |  WHERE rn = 1),
       |qres AS (SELECT p.query_id, p.cell,
       |    list_transform(range(${cfg.dim}), i -> en.v[i+1] - c.cv[i+1]) AS qv
       |  FROM pr p JOIN en ON en.vec_id = p.query_id
       |  JOIN icents c ON c.cid = p.cell),
       |lut AS (SELECT q.query_id, q.cell, sp.s, c.cid,
       |    CAST(round(list_sum(list_transform(range($sub), i ->
       |      (q.qv[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1])
       |      * (q.qv[sp.s * $sub + i + 1] - c.cv[sp.s * $sub + i + 1]))) * 1e6)
       |      AS BIGINT) dl
       |  FROM qres q CROSS JOIN sp CROSS JOIN pcents c),
       |cand AS (SELECT p.query_id, p.cell, a.vec_id AS neighbor_id
       |  FROM asg a JOIN pr p ON a.cell = p.cell AND a.vec_id <> p.query_id),
       |adc AS (SELECT cand.query_id, cand.neighbor_id,
       |    CAST(sum(l.dl) AS BIGINT) AS sdl
       |  FROM cand
       |  JOIN best b ON b.vec_id = cand.neighbor_id
       |  JOIN lut l ON l.query_id = cand.query_id AND l.cell = cand.cell
       |    AND l.s = b.s AND l.cid = b.cid
       |  GROUP BY 1, 2)
       |SELECT query_id, neighbor_id, round(sdl / 1000000.0, 6) AS adc_dist,
       |       CAST(rank AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY sdl, neighbor_id) rank FROM adc)
       |WHERE rank <= $topK""".stripMargin
  }

  /** DuckDB oracle for [[ivfPqResidualTopKRefined]]: the residual ADC
    * oracle nested at `rerankDepth`, its shortlist re-scored by exact
    * rounded cosine with the brute-force tie rule. */
  def ivfPqResidualTopKRefinedOracleSql(nQueries: Int = 8, topK: Int = 5,
                                        rerankDepth: Int = 100,
                                        nCells: Int = 16, nProbe: Int = 4,
                                        ivfSalt: String = "ivf",
                                        cfg: PqConfig = pqDefaults,
                                        ivfRounds: Int = IvfTrainRounds): String =
    s"""WITH shortlist AS (SELECT query_id, neighbor_id FROM (
       |${ivfPqResidualTopKOracleSql(nQueries, rerankDepth, nCells, nProbe,
          ivfSalt, cfg, ivfRounds)}
       |) z),
       |ex AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |exn AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM ex),
       |sc AS (SELECT s.query_id, s.neighbor_id,
       |  round(list_sum(list_transform(range(len(q.v)),
       |      i -> q.v[i+1] * n.v[i+1])) / (q.nrm * n.nrm), 6) AS cosine
       |  FROM shortlist s
       |  JOIN exn q ON q.vec_id = s.query_id
       |  JOIN exn n ON n.vec_id = s.neighbor_id)
       |SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY query_id
       |  ORDER BY cosine DESC, neighbor_id) rank FROM sc)
       |WHERE rank <= $topK""".stripMargin

  /**
   * IVF index-HEALTH audit (r13) — the per-cell statistics every
   * production vector index reports next to its recall: one row per
   * OCCUPIED cell with its occupancy and the distribution of member
   * cosines to the cell centroid — (n_vectors, n_degenerate, mean_cc,
   * min_cc), degenerate = NULL/NaN assignment cosine (a zero-norm
   * member or NaN coordinates; a zero-norm CENTROID — which cannot
   * arise from hash-sampled corpus rows or their Lloyd means on a
   * non-degenerate corpus — is out of contract: the native assignment
   * scores it ±Inf while both audits read it NULL-degenerate). The
   * numbers a pipeline monitors to catch quantizer degradation:
   * occupancy skew (a few swollen cells → probe cost concentrates and
   * recall collapses toward them) and coherence (falling mean/min
   * member-to-centroid cosine → the quantizer no longer fits the
   * corpus, time to retrain — the coarse-quantizer sibling of the
   * recon_error the PQ side already reports per vector).
   *
   * Engine-portable arithmetic: each member's cc is the 6-dp-rounded
   * assignment cosine (the argmax winner's score — re-derived map-side
   * by ONE extra dot against the assigned centroid's literal, identical
   * value to the oracle's rn=1 row); the mean is computed on the µ-int
   * grid (cc is already on it, so floor(cc·1e6+0.5) is exact, the
   * int64 SUM is order-proof, and floor(sum/n + 0.5)/1e6 reproduces in
   * any engine). Scale shape: assignment + re-score are map-side over
   * plan-literal centroids; ONE hash shuffle on the tiny cell key;
   * |cells| output rows at any corpus size.
   */
  def ivfCellStats(embeddings: DataFrame, nCells: Int = 16,
                   salt: String = "ivf", rounds: Int = IvfTrainRounds,
                   cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    val e = withNorm(embeddings)
    val cents = cells.getOrElse(ivfCentroids(e, nCells, salt, rounds))
    val empty = e.select(col("vec_id").as("cell"), lit(0L).as("n_vectors"),
      lit(0L).as("n_degenerate"), lit(0.0).as("mean_cc"),
      lit(0.0).as("min_cc")).filter(lit(false))
    if (cents.isEmpty) return empty
    val cvMap = typedLit(cents.map { case (cid, cv, _) => cid -> cv }.toMap)
    val nrmMap = typedLit(cents.map { case (cid, _, cn) => cid -> cn }.toMap)
    // DEGENERATE members (a zero-norm vector — dead encoder output — or
    // a NaN coordinate) are counted as n_degenerate and excluded from
    // the mean/min. The degeneracy test runs BEFORE the division for
    // ENGINE-PORTABLE NULL semantics, not because either engine throws:
    // Spark's Divide on doubles is IEEE even under ANSI (0 divisor →
    // Inf/NaN; only integral/decimal division throws) and DuckDB's
    // double /0 has its own reading — a NULL-cc-when-den=0 CASE is the
    // one formulation every engine reads identically (r13 review
    // finding). degenerate := cc IS NULL (den = 0) OR isnan(cc) (NaN
    // data); an all-degenerate cell reads NULL mean/min (the mean's
    // CASE keeps the 0-valid-count cell NULL instead of NaN).
    val num = dot(col("v"), element_at(cvMap, col("cell")))
    val den = col("nrm") * element_at(nrmMap, col("cell"))
    val valid = col("cc").isNotNull && !isnan(col("cc"))
    e.select(col("vec_id"), col("v"), col("nrm"),
        nearestCell(cents).as("cell"))
      .select(col("cell"),
        when(den =!= 0, round(num / den, 6)).as("cc"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_vectors"),
        count(when(!valid, 1)).as("n_degenerate"),
        when(count(when(valid, 1)) > 0,
          floor(sum(when(valid, floor(col("cc") * 1e6 + 0.5).cast("long")))
            / count(when(valid, 1)) + 0.5) / 1e6).as("mean_cc"),
        min(when(valid, col("cc"))).as("min_cc"))
  }

  /** DuckDB oracle replicating [[ivfCellStats]]: the shared centroid
    * CTE ([[ivfCentsCteSql]] — trained under the same rounds), the
    * rn=1 assignment row carrying the winning rounded cosine, and the
    * identical µ-int mean discipline. */
  def ivfCellStatsOracleSql(nCells: Int = 16, salt: String = "ivf",
                            rounds: Int = IvfTrainRounds,
                            dim: Int = 64): String =
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |e AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM en),
       |${ivfCentsCteSql(nCells, salt, rounds, "en", dim)},
       |asg0 AS (SELECT e.vec_id, c.cid,
       |    CASE WHEN e.nrm * c.cnrm <> 0 THEN
       |      round(list_sum(list_transform(range(len(e.v)), i ->
       |        e.v[i+1] * c.cv[i+1])) / (e.nrm * c.cnrm), 6) END cc
       |  FROM e CROSS JOIN icents c),
       |asg AS (SELECT vec_id, cid AS cell, cc FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1)
       |SELECT cell, count(*) AS n_vectors,
       |  count(CASE WHEN cc IS NULL OR isnan(cc) THEN 1 END) AS n_degenerate,
       |  floor(CAST(sum(CASE WHEN cc IS NOT NULL AND NOT isnan(cc)
       |      THEN CAST(floor(cc * 1e6 + 0.5) AS BIGINT) END) AS DOUBLE)
       |    / count(CASE WHEN cc IS NOT NULL AND NOT isnan(cc) THEN 1 END)
       |    + 0.5) / 1e6 AS mean_cc,
       |  min(CASE WHEN cc IS NOT NULL AND NOT isnan(cc) THEN cc END) AS min_cc
       |FROM asg GROUP BY cell""".stripMargin

  /**
   * Cluster-balanced sampling — the data-MIXING primitive (SemDeDup /
   * DoReMi-style): assign every vector to its IVF cell (the semantic
   * cluster proxy), then keep at most `perCell` per cell by
   * deterministic hash rank, flattening the cluster-size distribution so
   * over-represented modes (boilerplate clusters, template farms) can't
   * dominate a training mix. Output one row per KEPT vector:
   * (vec_id, cell, cell_n, cell_rank) — cell_n is the PRE-cap occupancy,
   * so downstream can weight by how much each cluster was compressed.
   *
   * Scale shape: cell assignment is the IVF family's map-side argmax
   * over plan-literal centroids (no shuffle carries vectors); the cap is
   * ONE hash shuffle on the cell key for the two windows (rank + count
   * share the same partitioning). The hash rank makes the sample a pure
   * function of (data, salts) — re-runs and the DuckDB oracle reproduce
   * it row-for-row. Same per-group idiom as `source_mix`'s quota
   * sampling, keyed semantically instead of by provenance.
   */
  def clusterBalancedSample(embeddings: DataFrame, nCells: Int = 16,
                            perCell: Int = 25, ivfSalt: String = "ivf",
                            sampleSalt: String = "cbs",
                            rounds: Int = IvfTrainRounds,
                            cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    val e = withNorm(embeddings)
    val cents = cells.getOrElse(ivfCentroids(e, nCells, ivfSalt, rounds))
    val empty = e.select(col("vec_id"), lit(0L).as("cell"),
      lit(0L).as("cell_n"), lit(0).as("cell_rank")).filter(lit(false))
    if (cents.isEmpty) return empty
    val byCell = Window.partitionBy(col("cell"))
    e.select(col("vec_id"),
        nearestCell(cents).as("cell"),
        md5(concat(lit(sampleSalt + ":"), col("vec_id").cast("string"))).as("__sk"))
      .withColumn("cell_n", count(lit(1)).over(byCell))
      .withColumn("cell_rank", row_number().over(
        byCell.orderBy(col("__sk"), col("vec_id"))))
      .filter(col("cell_rank") <= perCell)
      .select(col("vec_id"), col("cell"), col("cell_n"), col("cell_rank"))
  }

  /** DuckDB oracle replicating [[clusterBalancedSample]]: the IVF
    * assignment CTE (same 6-dp rounding and small-cid tie rule) + the
    * same two windows over the cell key. */
  def clusterBalancedSampleOracleSql(nCells: Int = 16, perCell: Int = 25,
                                     ivfSalt: String = "ivf",
                                     sampleSalt: String = "cbs",
                                     rounds: Int = IvfTrainRounds,
                                     dim: Int = 64): String =
    s"""WITH e AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |en AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM e),
       |${ivfCentsCteSql(nCells, ivfSalt, rounds, "e", dim)},
       |asg0 AS (SELECT en.vec_id, c.cid,
       |    round(list_sum(list_transform(range(len(en.v)), i ->
       |      en.v[i+1] * c.cv[i+1])) / (en.nrm * c.cnrm), 6) cc
       |  FROM en CROSS JOIN icents c),
       |asg AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1)
       |SELECT vec_id, cell, cell_n, CAST(cell_rank AS INT) AS cell_rank
       |FROM (SELECT vec_id, cell,
       |        count(*) OVER (PARTITION BY cell) AS cell_n,
       |        row_number() OVER (PARTITION BY cell
       |          ORDER BY md5('$sampleSalt:' || CAST(vec_id AS VARCHAR)), vec_id)
       |          AS cell_rank
       |      FROM asg)
       |WHERE cell_rank <= $perCell""".stripMargin

  /**
   * SemDeDup — semantic dedup WITHIN the trained coarse-quantizer
   * cells (Abbas et al. 2023, arXiv:2303.09540: k-means-cluster the
   * embedding space, compare pairs only inside a cluster, evict all
   * but one member of every near-duplicate group). The published
   * recipe's insight is that semantic duplicates land in the same
   * cluster, so the quadratic stays LOCAL: pair mass is Σ n_c²/2 over
   * cell occupancies, never n²/2 over the corpus. This is the
   * within-cell eviction complement of [[clusterBalancedSample]]
   * (which flattens cluster sizes but keeps near-duplicates) and the
   * trained-quantizer complement of [[signLshNearDupPairs]] (whose
   * candidate buckets are data-independent hyperplane signs).
   *
   * One row per vector: (vec_id, cell, verdict, match_id,
   * match_cosine) — verdict 'dup' when a SMALLER-id cell-mate has
   * rounded cosine ≥ `threshold` (match_id = the best such mate by
   * (cosine DESC, vec_id ASC), the [[graft.text.Dedup.incremental]]
   * best-match convention), else 'keep'. The greedy smaller-id rule is
   * the deterministic stand-in for the paper's arbitrary-order ε-ball
   * eviction: the smallest id of every near-dup clique always survives,
   * and `match_id` names the evicting neighbor (not necessarily the
   * clique representative — eviction does not chase chains, exactly
   * like the paper's one-pass policy).
   *
   * Scale shape: cell assignment is the IVF family's map-side argmax
   * over plan-literal centroids (no shuffle carries the corpus); the
   * pair join shuffles once on the cell key and its mass is bounded by
   * `maxCellSize`² per cell — an over-cap cell contributes NO pairs
   * (its members all read 'keep'), the same honest recall-for-bound
   * trade as `maxBucketSize` in the LSH dedup, and a swollen cell is
   * exactly what [[ivfCellStats]]' occupancy-skew monitor flags for
   * retraining. At production widths ([[scaledCells]] / AutoCells keeps
   * E[occupancy] ≈ n/k bounded) the per-cell quadratic is a constant,
   * so total work stays linear in the corpus with one equi-keyed
   * shuffle — the same 100 TB shape as the banded-LSH dedup family.
   *
   * Engine-portable arithmetic: pair cosines round to 6 dp BEFORE the
   * threshold and the best-match rank (the IVF family discipline), and
   * a zero denominator reads NULL — filtered, never ±Inf — on both
   * engines (the [[ivfCellStats]] CASE guard).
   */
  def semanticDedupCells(embeddings: DataFrame, nCells: Int = 16,
                         threshold: Double = 0.42, salt: String = "ivf",
                         rounds: Int = IvfTrainRounds,
                         maxCellSize: Int = 4096,
                         cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    val e = withNorm(embeddings)
    // through ivfCells, not ivfCentroids: the scaladoc promises the
    // AutoCells width policy, and only ivfCells resolves the sentinel
    // (a direct ivfCentroids call at nCells = 0 would train an empty
    // codebook and return a zero-row frame with no error — review r18)
    val cents = cells.getOrElse(ivfCells(embeddings, nCells, salt, rounds))
    val empty = e.select(col("vec_id"), lit(0L).as("cell"),
      lit("keep").as("verdict"), lit(null).cast("long").as("match_id"),
      lit(null).cast("double").as("match_cosine")).filter(lit(false))
    if (cents.isEmpty) return empty
    val asg = e.select(col("vec_id"), col("v"), col("nrm"),
      nearestCell(cents).as("cell"))
    val small = asg
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .filter(col("__n") <= maxCellSize)
    val den = col("a.nrm") * col("b.nrm")
    val pairs = small.alias("a").join(small.alias("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("b.vec_id").as("dup_id"), col("a.vec_id").as("keep_id"),
        when(den =!= 0,
          round(dot(col("a.v"), col("b.v")) / den, 6)).as("cos"))
      .filter(col("cos") >= threshold)
    val best = pairs
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("dup_id"))
          .orderBy(col("cos").desc, col("keep_id"))))
      .filter(col("__rn") === 1)
      .select(col("dup_id"), col("keep_id"), col("cos"))
    asg.join(best, asg("vec_id") === best("dup_id"), "left")
      .select(asg("vec_id"), asg("cell"),
        when(col("dup_id").isNull, "keep").otherwise("dup").as("verdict"),
        col("keep_id").as("match_id"), col("cos").as("match_cosine"))
  }

  /**
   * Incremental SemDeDup — the ADMISSION form of [[semanticDedupCells]]
   * (the [[graft.text.Dedup.incremental]] shape in embedding space): a
   * NEW batch of vectors arrives and each one is verdicted against the
   * EXISTING corpus without re-deduplicating the corpus itself. One row
   * per batch vector: (vec_id, cell, verdict, match_id, match_cosine) —
   * 'dup' when a corpus vector in the SAME trained cell reaches
   * `threshold` (match = best by cosine DESC, corpus id ASC), else
   * 'new'. Within-batch duplicates are out of scope (run
   * [[semanticDedupCells]] over the batch alone first); the streaming
   * twin is [[semanticDedupFlags]], whose flagged-id set this
   * operator's 'dup' rows must equal.
   *
   * Scale shape: both sides assign map-side over plan-literal
   * centroids; the batch is orders of magnitude smaller than the
   * corpus, so the join shuffles on the cell key with the batch side
   * tiny — and the corpus side's candidates are bounded by the batch's
   * TOUCHED cells (at a cell-partitioned at-rest layout the untouched
   * cells never even list — the [[ivfHashTopKPruned]] pruning applies
   * verbatim). `maxCellSize` caps a touched cell's corpus occupancy the
   * same honest way as the batch operator.
   *
   * @param isNew predicate splitting `embeddings` into the arriving
   *              batch (true) and the corpus (false); must reference
   *              only `vec_id` (the Dedup.incremental contract)
   */
  def semanticDedupIncremental(embeddings: DataFrame, isNew: Column,
                               nCells: Int = 16, threshold: Double = 0.42,
                               salt: String = "ivf",
                               rounds: Int = IvfTrainRounds,
                               maxCellSize: Int = 4096,
                               cells: Option[Array[(Long, Seq[Double], Double)]] = None)
      : DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    val e = withNorm(embeddings)
    val cents = cells.getOrElse(ivfCells(embeddings, nCells, salt, rounds))
    val empty = e.select(col("vec_id"), lit(0L).as("cell"),
      lit("new").as("verdict"), lit(null).cast("long").as("match_id"),
      lit(null).cast("double").as("match_cosine")).filter(lit(false))
    if (cents.isEmpty) return empty
    val asg = e.select(col("vec_id"), col("v"), col("nrm"),
      nearestCell(cents).as("cell"))
    val batch = asg.filter(isNew)
    val corpus = asg.filter(!isNew)
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .filter(col("__n") <= maxCellSize)
    val den = col("b.nrm") * col("c.nrm")
    val best = batch.alias("b").join(corpus.alias("c"),
        col("b.cell") === col("c.cell"))
      .select(col("b.vec_id").as("new_id"), col("c.vec_id").as("match_id0"),
        when(den =!= 0,
          round(dot(col("b.v"), col("c.v")) / den, 6)).as("cos"))
      .filter(col("cos") >= threshold)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("new_id"))
          .orderBy(col("cos").desc, col("match_id0"))))
      .filter(col("__rn") === 1)
      .select(col("new_id"), col("match_id0"), col("cos"))
    batch.join(best, batch("vec_id") === best("new_id"), "left")
      .select(batch("vec_id"), batch("cell"),
        when(col("new_id").isNull, "new").otherwise("dup").as("verdict"),
        col("match_id0").as("match_id"), col("cos").as("match_cosine"))
  }

  /** DuckDB oracle replicating [[semanticDedupIncremental]] at the
    * registered split — same centroid CTE, assignment, cap window and
    * best-match rank as the within-corpus oracle, with the pair scan
    * batch-vs-corpus instead of smaller-id. `isNewSql` must be the SQL
    * twin of the Spark predicate over column name `vec_id`. */
  def semanticDedupIncrementalOracleSql(isNewSql: String,
                                        nCells: Int = 16,
                                        threshold: Double = 0.42,
                                        salt: String = "ivf",
                                        rounds: Int = IvfTrainRounds,
                                        maxCellSize: Int = 4096,
                                        dim: Int = 64): String =
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |e AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM en),
       |${ivfCentsCteSql(nCells, salt, rounds, "en", dim)},
       |asg0 AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
       |    round(list_sum(list_transform(range(len(e.v)), i ->
       |      e.v[i+1] * c.cv[i+1])) / (e.nrm * c.cnrm), 6) cc
       |  FROM e CROSS JOIN icents c),
       |asg AS (SELECT vec_id, v, nrm, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1),
       |bat AS (SELECT * FROM asg WHERE $isNewSql),
       |corp AS (SELECT * FROM (SELECT vec_id, v, nrm, cell,
       |    count(*) OVER (PARTITION BY cell) __n FROM asg
       |    WHERE NOT ($isNewSql))
       |  WHERE __n <= $maxCellSize),
       |p0 AS (SELECT b.vec_id new_id, c.vec_id match_id0,
       |    CASE WHEN b.nrm * c.nrm <> 0 THEN
       |      round(list_sum(list_transform(range(len(b.v)), i ->
       |        b.v[i+1] * c.v[i+1])) / (b.nrm * c.nrm), 6) END cos
       |  FROM bat b JOIN corp c ON b.cell = c.cell),
       |best AS (SELECT new_id, match_id0, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY new_id
       |      ORDER BY cos DESC, match_id0) rn
       |    FROM p0 WHERE cos >= $threshold)
       |  WHERE rn = 1)
       |SELECT g.vec_id, g.cell,
       |  CASE WHEN h.new_id IS NULL THEN 'new' ELSE 'dup' END AS verdict,
       |  h.match_id0 AS match_id, h.cos AS match_cosine
       |FROM bat g LEFT JOIN best h ON h.new_id = g.vec_id""".stripMargin

  /**
   * SemDeDup cell-health audit — the observability row the over-cap
   * degradation mode demands: [[semanticDedupCells]] honestly exempts
   * an over-`maxCellSize` cell from pairing (its members all read
   * 'keep'), which at a mis-set width is exactly the silence a
   * production run must SEE — the `dedup_lsh_audit`/`lsh_bucket_stats`
   * precedent applied to the SemDeDup family. Consumes the dedup
   * query's own output frame (every member row carries its cell, capped
   * or not), so the audit costs ZERO extra assignment work on the
   * memoized frame.
   *
   * One row per cell plus a ROLLUP grand-total row (cell = NULL, the
   * corpusStats convention): occupancy, over-cap count, vectors
   * exempted from pairing, exempted share in integer ppm, and the
   * within-cell pair-mass bound Σ n·(n−1)/2 over UNDER-cap cells — the
   * number the SemDeDup ladder prints as its linearity receipt. All
   * integer arithmetic (ppm by int64 div), so both engines emit
   * identical values with no rounding rule.
   *
   * Scale shape: one shuffle on the cell key (map-side count partials),
   * then a |cells|-row rollup — linear in the corpus, O(cells) output.
   */
  def semanticDedupCellAudit(verdicts: DataFrame,
                             maxCellSize: Int = 4096): DataFrame = {
    require(maxCellSize >= 1, s"maxCellSize must be >= 1, got $maxCellSize")
    val occ = verdicts.groupBy(col("cell")).agg(count(lit(1)).as("__n"))
    occ.rollup(col("cell"))
      .agg(count(lit(1)).as("n_cells"),
        sum(col("__n")).as("n_vectors"),
        sum(when(col("__n") > maxCellSize, 1L).otherwise(0L))
          .as("n_over_cap"),
        sum(when(col("__n") > maxCellSize, col("__n")).otherwise(0L))
          .as("exempted_vectors"),
        sum(when(col("__n") <= maxCellSize, col("__n") * (col("__n") - 1))
          .otherwise(0L)).as("__pm2"))
      .select(col("cell"), col("n_cells"), col("n_vectors"),
        col("n_over_cap"), col("exempted_vectors"),
        expr("exempted_vectors * 1000000 div n_vectors").as("exempted_ppm"),
        expr("__pm2 div 2").as("pair_bound"))
  }

  /** DuckDB oracle replicating [[semanticDedupCellAudit]] over the
    * registered [[semanticDedupCells]] configuration: the full dedup
    * oracle as a CTE, per-cell occupancies, then the same integer
    * rollup (GROUP BY ROLLUP(cell), ppm/pair-bound by int64 floor
    * division). */
  def semanticDedupCellAuditOracleSql(nCells: Int = 16,
                                      threshold: Double = 0.42,
                                      salt: String = "ivf",
                                      rounds: Int = IvfTrainRounds,
                                      maxCellSize: Int = 4096,
                                      dim: Int = 64): String =
    s"""WITH sd AS (
       |${semanticDedupCellsOracleSql(nCells, threshold, salt, rounds,
            maxCellSize, dim)}),
       |occ AS (SELECT cell, CAST(count(*) AS BIGINT) n FROM sd
       |  GROUP BY cell)
       |SELECT cell, CAST(count(*) AS BIGINT) AS n_cells,
       |  CAST(sum(n) AS BIGINT) AS n_vectors,
       |  CAST(sum(CASE WHEN n > $maxCellSize THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_over_cap,
       |  CAST(sum(CASE WHEN n > $maxCellSize THEN n ELSE 0 END) AS BIGINT)
       |    AS exempted_vectors,
       |  (CAST(sum(CASE WHEN n > $maxCellSize THEN n ELSE 0 END) AS BIGINT)
       |    * 1000000) // CAST(sum(n) AS BIGINT) AS exempted_ppm,
       |  CAST(sum(CASE WHEN n <= $maxCellSize THEN n * (n - 1) ELSE 0 END)
       |    AS BIGINT) // 2 AS pair_bound
       |FROM occ GROUP BY ROLLUP(cell)""".stripMargin

  /** DuckDB oracle replicating [[semanticDedupCells]]: the shared
    * trained-centroid CTE ([[ivfCentsCteSql]]), the rn=1 rounded-cosine
    * argmax assignment, the occupancy-cap window, the within-cell
    * smaller-id pair scan at the same 6-dp rounding, and the
    * (cosine DESC, keep_id ASC) best-match rank. */
  def semanticDedupCellsOracleSql(nCells: Int = 16, threshold: Double = 0.42,
                                  salt: String = "ivf",
                                  rounds: Int = IvfTrainRounds,
                                  maxCellSize: Int = 4096,
                                  dim: Int = 64): String =
    s"""WITH en AS (SELECT vec_id,
       |  list_transform(embedding, x -> CAST(x AS DOUBLE)) v FROM embeddings),
       |e AS (SELECT vec_id, v,
       |  sqrt(list_sum(list_transform(v, x -> x*x))) nrm FROM en),
       |${ivfCentsCteSql(nCells, salt, rounds, "en", dim)},
       |asg0 AS (SELECT e.vec_id, e.v, e.nrm, c.cid,
       |    round(list_sum(list_transform(range(len(e.v)), i ->
       |      e.v[i+1] * c.cv[i+1])) / (e.nrm * c.cnrm), 6) cc
       |  FROM e CROSS JOIN icents c),
       |asg AS (SELECT vec_id, v, nrm, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY cc DESC, cid) rn FROM asg0)
       |  WHERE rn = 1),
       |sml AS (SELECT * FROM (SELECT vec_id, v, nrm, cell,
       |    count(*) OVER (PARTITION BY cell) __n FROM asg)
       |  WHERE __n <= $maxCellSize),
       |p0 AS (SELECT b.vec_id dup_id, a.vec_id keep_id,
       |    CASE WHEN a.nrm * b.nrm <> 0 THEN
       |      round(list_sum(list_transform(range(len(a.v)), i ->
       |        a.v[i+1] * b.v[i+1])) / (a.nrm * b.nrm), 6) END cos
       |  FROM sml a JOIN sml b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |best AS (SELECT dup_id, keep_id, cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY dup_id
       |      ORDER BY cos DESC, keep_id) rn
       |    FROM p0 WHERE cos >= $threshold)
       |  WHERE rn = 1)
       |SELECT g.vec_id, g.cell,
       |  CASE WHEN h.dup_id IS NULL THEN 'keep' ELSE 'dup' END AS verdict,
       |  h.keep_id AS match_id, h.cos AS match_cosine
       |FROM asg g LEFT JOIN best h ON h.dup_id = g.vec_id""".stripMargin
}
