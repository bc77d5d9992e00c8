package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.VersionedDir

/**
 * Versioned store for FROZEN streaming models — the versioned-directory
 * protocol [[graft.similarity.AnnLifecycle]]'s index also uses, applied
 * to the stateless streaming twins (r16 verdict ask #6): the quality
 * classifier, the BM25 router, the MAD/robust-gate baselines and
 * semantic decontamination all freeze their model tables into the plan
 * as literals/broadcasts, so before this store a model refresh meant a
 * restart with NO provenance on emitted rows — a consumer could not
 * tell which weights scored which document.
 *
 * Layout: `<dir>/v<N>/model/` (immutable parquet, any schema) +
 * `<dir>/MANIFEST` (current version) under the
 * [[graft.sources.VersionedDir]] protocol — a reader resolves either the
 * old version or the new one, never a torn read.
 *
 * THE RECIPE every stateless twin shares — instantiated three ways
 * (literal-folded weights in
 * [[StreamingCuration.qualityClassifierStreamVersioned]], literal-folded
 * term rows in [[StreamingCuration.bm25RouteStreamVersioned]], a
 * broadcast stats TABLE in
 * [[StreamingCuration.robustLengthGateStreamVersioned]]), all drilled in
 * FrozenModelSwapSpec; the same steps apply verbatim to the remaining
 * frozen-table twins (e.g. the decontamination index):
 *
 *  1. train/collect the model table once, [[publish]] it as v1 —
 *     writes the immutable `v1/model` tree, then flips MANIFEST;
 *  2. build the stream against [[currentVersion]]'s model and STAMP
 *     every output row `model_version = N` IN THE SAME PROJECTION the
 *     frozen literals live in (e.g.
 *     [[StreamingCuration.qualityClassifierStreamVersioned]]) — a
 *     Structured Streaming plan freezes literals at build, so the
 *     stamp and the weights can never disagree within a query's
 *     lifetime;
 *  3. refresh = STOP the query, [[publish]] v(N+1), restart the SAME
 *     builder against the SAME checkpoint: source offsets continue
 *     (no row re-scored, none skipped), the restarted plan resolves
 *     the new manifest, and from the first post-restart microbatch
 *     every row carries the new stamp. Each emitted row is therefore
 *     attributable to EXACTLY ONE model version, and the output topic
 *     is self-describing across any number of refreshes.
 *
 * At 100 TB nothing here scales with data: a model table is
 * O(model) bytes written once per refresh, the manifest flip is O(1),
 * and the stamp is a literal column. Old `v<k>` trees are tiny;
 * [[pruneVersions]] retires them past a keep horizon if a deployment
 * accumulates thousands.
 */
object FrozenModelStore {

  /** Current model version, or None before the first publish. */
  def currentVersion(dir: String): Option[Int] = VersionedDir.currentVersion(dir)

  /** Publish `model` as the immutable generation `version`, then flip
    * the manifest atomically ([[VersionedDir.publish]]).
    *
    * Refuses unless `version` is newer than the current manifest (ADVICE
    * r17): output rows stamped `model_version = N` must be attributable
    * to exactly one weight set, so a version that took effect — current
    * or pruned — is never written again. A newer version staged by a
    * publish that crashed before its flip is re-staged by simply
    * publishing it again. */
  def publish(dir: String, version: Int, model: DataFrame): Unit =
    VersionedDir.publish(dir, version) {
      model.coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/v$version/model")
    }

  /** Generation `version`'s frozen model table. */
  def load(spark: SparkSession, dir: String, version: Int): DataFrame =
    spark.read.parquet(s"$dir/v$version/model")

  /** Versions whose `v<k>` tree exists under `dir`, ascending. */
  def publishedVersions(dir: String): Seq[Int] =
    VersionedDir.publishedVersions(dir)

  /**
   * Retire old `v<k>` model trees, keeping the newest `keep`
   * ([[VersionedDir.prune]]; the current version is never pruned, nor
   * anything newer than it). A pruned generation's rows remain
   * attributable — the output topic carries `model_version` stamps
   * forever; pruning only removes the WEIGHTS, so size `keep` to the
   * re-score/audit horizon. Model trees are O(model) bytes: this exists
   * for deployments that refresh on a tight cadence for years, not as a
   * space emergency. Returns the pruned versions.
   */
  def pruneVersions(dir: String, keep: Int = 2): Seq[Int] =
    VersionedDir.prune(dir, keep, "model")

  /** Convenience pair for µ-int weight-vector models (the LR
    * classifier's Array[Long] indexed by bucket). */
  def publishWeights(spark: SparkSession, dir: String, version: Int,
                     weights: Array[Long]): Unit = {
    import spark.implicits._
    publish(dir, version,
      weights.toSeq.zipWithIndex.map { case (w, b) => (b, w) }
        .toDF("bucket", "w"))
  }

  def loadWeights(spark: SparkSession, dir: String,
                  version: Int): Array[Long] =
    load(spark, dir, version)
      .orderBy(col("bucket")).select(col("w"))
      .collect().map(_.getLong(0))

  /** Convenience pair for frozen BM25 routing models
    * ([[graft.text.Retrieval.Bm25Model]]): the ≤ nQueries·nTerms
    * (query_id, term, idf) rows plus the corpus mean length, one row
    * per term (`avg_len` repeated — the model is tiny, a dozen rows).
    * An EMPTY model (corpus had no tokens) round-trips as one sentinel
    * row with a NULL term. */
  def publishBm25(spark: SparkSession, dir: String, version: Int,
                  model: graft.text.Retrieval.Bm25Model): Unit = {
    import spark.implicits._
    val rows =
      if (model.terms.isEmpty)
        Seq((-1L, Option.empty[String], 0.0, model.avgLen))
      else model.terms.map { case (q, t, idf) => (q, Option(t), idf, model.avgLen) }
    publish(dir, version,
      rows.toDF("query_id", "term", "idf", "avg_len"))
  }

  def loadBm25(spark: SparkSession, dir: String,
               version: Int): graft.text.Retrieval.Bm25Model = {
    val rows = load(spark, dir, version)
      .orderBy(col("query_id"), col("term"))
      .collect()
    val avgLen = if (rows.isEmpty) 0.0 else rows.head.getAs[Double]("avg_len")
    val terms = rows.toSeq
      .filter(r => !r.isNullAt(r.fieldIndex("term")))
      .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("term"),
        r.getAs[Double]("idf")))
    graft.text.Retrieval.Bm25Model(avgLen, terms)
  }
}
