package graft.fixtures

import graft.similarity.Similarity
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Deterministic embedding corpora and the recall audit the ANN
 * lifecycle load and its specs share. Every vector is a pure function of
 * (id, dim, salt) through [[unit]], so a corpus is bit-identical across
 * runs, core counts and partitionings. The receipts these generators
 * fed are archived in BASELINE.md (r15 staleness table, r17 recall
 * frontier).
 */
object Embeddings {

  /** Hash of `cols` mapped to the 2001-point grid {-1.000, ..., 1.000}. */
  private def unit(cols: Column*): Column =
    (pmod(xxhash64(cols: _*), lit(2001)) - 1000).cast("double") / lit(1000.0)

  /** Fresh vectors from a GENUINELY new distribution: `nClusters`
    * hash-generated cluster centers living in a region the base corpus
    * does not occupy (every center carries a +`delta` mean shift on a
    * 16-dim band starting at `dimOffset` — the axis the registered
    * `embedding_drift` monitor reads), each vector = its cluster's
    * center + per-(id, dim) hash noise. The new distribution has real
    * neighbor structure, but a FROZEN quantizer has no centroids there:
    * new clusters scatter across stale Voronoi cells, which is what
    * makes a fixed-probe search miss and what retraining repairs. (A
    * "copy base and nudge" generator measures the OPPOSITE: each query's
    * neighbors become its own near-copies in its own cell and recall
    * goes UP with staleness.)
    *
    * `dimOffset` moves the shifted band: a multi-generation load shifts
    * a FRESH band each generation — once a generation's drift is
    * absorbed into the snapshot, re-shifting the same band reads as
    * mixture variance, not mean shift, and the monitor's z collapses
    * (measured: z 4.2 -> 1.4 at generation 2). */
  def freshShifted(spark: SparkSession, n: Long, dim: Int = 64,
                   delta: Double = 0.35, nClusters: Int = 8,
                   dimOffset: Int = 0): DataFrame =
    spark.range(n).select(
      (col("id") + lit(100000000L)).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (unit(pmod(col("id"), lit(nClusters)), j, lit(11)) * lit(0.6)
          + when(j >= dimOffset && j < dimOffset + 16, lit(delta))
            .otherwise(lit(0.0))
          + unit(col("id"), j, lit(7)) * lit(0.45)).cast("float"))
        .as("embedding"))

  /** Gaussian-ish mixture: `nClusters` hash-placed centers, per-vector
    * noise whose scale rivals the center scale — the spread that makes
    * nearest neighbors cross cell boundaries (the [[freshShifted]] shape
    * as a standalone corpus at arbitrary cluster counts). */
  def mixture(spark: SparkSession, n: Long, dim: Int, nClusters: Int,
              centerScale: Double = 0.6,
              noiseScale: Double = 0.45): DataFrame =
    spark.range(n).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        (unit(pmod(col("id"), lit(nClusters)), j, lit(23)) * lit(centerScale)
          + unit(col("id"), j, lit(41)) * lit(noiseScale)).cast("float"))
        .as("embedding"))

  /** Mean recall@5 over `corpus` (queries = vec_id < nQ): assignments
    * AND probes both under the EXPLICIT centroid array (frozen or
    * retrained — the serving configuration under test), audited against
    * brute force.
    *
    * @param brute pass the corpus's precomputed (ideally persisted)
    *              [[Similarity.bruteForceTopK]] frame when auditing the
    *              SAME corpus under several centroid arrays — the exact
    *              scan is the audit's dominant cost */
  def meanRecall(corpus: DataFrame, cells: Array[(Long, Seq[Double], Double)],
                 nQ: Int, nCells: Int, nProbe: Int,
                 brute: Option[DataFrame] = None): Double = {
    val approx = Similarity.ivfHashTopKPruned(corpus,
      Similarity.ivfCellAssignmentsWith(corpus, cells),
      nQueries = nQ, k = 5, nCells = nCells, nProbe = nProbe,
      cells = Some(cells))
    val exact = brute.getOrElse(
      Similarity.bruteForceTopK(corpus, nQueries = nQ, k = 5))
    val r = Similarity.recallAudit(approx, exact, 5)
      .agg(avg(col("recall_at_k"))).collect()(0)
    if (r.isNullAt(0)) 0.0 else r.getDouble(0)
  }

  /** Relabel base+fresh so the first nQ FRESH vectors become the query
    * set (ids 0..nQ-1) and everything else moves out of the query
    * range — recall for users arriving FROM the drifted distribution. */
  def newQueryView(b: DataFrame, fresh: DataFrame, nQ: Int): DataFrame = {
    val q = fresh.orderBy(col("vec_id")).limit(nQ)
      .select(row_number().over(Window.orderBy(col("vec_id")))
          .cast("long") - 1L, col("embedding"))
    val rest = fresh.orderBy(col("vec_id")).offset(nQ)
      .select(col("vec_id") + lit(500000000L), col("embedding"))
    q.unionAll(b.select(col("vec_id") + lit(700000000L), col("embedding")))
      .unionAll(rest)
      .toDF("vec_id", "embedding")
  }
}
