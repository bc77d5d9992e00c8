package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Lexical retrieval over a `documents(doc_id, text, ...)` corpus — the
 * keyword/BM25 side of a curation pipeline's retrieval stack (the other
 * side is [[graft.similarity.Similarity]]'s embedding top-k; the two
 * fuse in [[rrfFuse]]). Training-data pipelines use exactly this pair
 * for more-like-this expansion of curated seed sets, retrieval-based
 * contamination probes, and hybrid hard-negative mining.
 *
 * Extension family beyond the reference's ad jobs (the reference has no
 * retrieval surface); built entirely on Catalyst built-ins over the same
 * whitespace token pipeline as [[TextAnalysis]], so every score is
 * replicated bit-for-bit by a DuckDB oracle.
 *
 * Determinism contract (shared with quality_classifier's micro-unit
 * logit, TextAnalysis.scala `microLogit`): each per-term BM25
 * contribution and each per-list RRF contribution is rounded to an
 * INTEGER micro-unit (×1e6) BEFORE summation, so the per-document sum
 * is an integer sum — order-independent under any shuffle/partitioning
 * and identical in any engine — and the final score is that integer
 * divided by 1e6 in one shared IEEE op. `round(Σ…, 6)` of a float sum
 * would instead depend on accumulation order.
 */
object Retrieval {

  private val outSchema = StructType(Seq(
    StructField("query_id", LongType),
    StructField("neighbor_id", LongType),
    StructField("bm25", DoubleType),
    StructField("rank", IntegerType)))

  /**
   * BM25 "more-like-this": for each query document (`doc_id < nQueries`,
   * the [[graft.similarity.Similarity.bruteForceTopK]] convention) take
   * its `nTerms` top TF-IDF tokens as the query, score every other
   * document with Okapi BM25 (k1, b; Robertson idf with the Lucene `+1`
   * so weights stay positive), and keep the top `k` per query.
   * Output: (query_id, neighbor_id, bm25, rank).
   *
   * Scale shape (everything hangs off the ONE shared occurrence-grain
   * frame, [[TextAnalysis.docTokenCounts]]):
   *  - document lengths and the document-frequency table are each one
   *    map-side-partial aggregation of that frame (doc grain / vocab
   *    grain);
   *  - corpus size and mean length fold into the plan as driver
   *    literals (the unigramLogProb idiom — two O(1) scalars);
   *  - the query-term table is ≤ nQueries·nTerms rows and BROADCAST, so
   *    the candidate generation is a map-side hash-join over the token
   *    frame — the corpus is scanned once and never shuffled by token
   *    (an inverted-index shuffle would concentrate stopword rows);
   *  - only candidate rows (docs sharing a query term) reach the
   *    length join and the (query, doc) aggregation — at 100 TB the
   *    posting lists of a few dozen terms, not the corpus.
   */
  /** (lens frame, N docs, mean length) — avglen is the single IEEE
    * division of two integer-valued operands, bit-identical in any
    * engine. N == 0 signals an empty corpus. */
  private def corpusStats(tf: DataFrame): (DataFrame, Long, Double) = {
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("__k")).as("__len"))
    val nRow = lens.agg(count(lit(1)), sum(col("__len"))).first()
    val n = nRow.getLong(0)
    (lens, n, if (n == 0L) 0.0 else nRow.getLong(1).toDouble / n.toDouble)
  }

  /** Query-term table (query_id, token, __idf): top-nTerms TF-IDF tokens
    * of each query doc — the tfidfTopTerms ranking verbatim (6-dp round
    * before ranking, ties lexicographic) — each with its Robertson-`+1`
    * BM25 idf. ≤ nQueries·nTerms rows; broadcast by every consumer. */
  private def queryTerms(tf: DataFrame, n: Long, nQueries: Int,
                         nTerms: Int): DataFrame = {
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("__df"))
    val qtf = tf.filter(col("doc_id") < nQueries)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("__tfidf").desc, col("token"))
    dfreq.join(broadcast(qtf), "token")
      .select(col("doc_id").as("query_id"), col("token"), col("__df"),
        round(col("__k") * log(lit(n.toDouble) / col("__df")), 6)
          .as("__tfidf"))
      .withColumn("__r", row_number().over(wq))
      .filter(col("__r") <= nTerms)
      .select(col("query_id"), col("token"),
        log(lit(1.0) + (lit(n.toDouble) - col("__df") + lit(0.5))
          / (col("__df") + lit(0.5))).as("__idf"))
  }

  def bm25MoreLikeThis(docs: DataFrame, nQueries: Int = 8, nTerms: Int = 5,
                       k: Int = 5, k1: Double = 1.2, b: Double = 0.75,
                       sharedTf: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    val tf = sharedTf.getOrElse(TextAnalysis.docTokenCounts(docs))
    val (lens, n, avgLen) = corpusStats(tf)
    if (n == 0L) return spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val qterms = queryTerms(tf, n, nQueries, nTerms)

    // Candidate scoring: per-term micro-unit contribution, integer sum.
    val contrib = tf.join(broadcast(qterms), "token")
      .filter(col("doc_id") =!= col("query_id"))
      .join(lens, "doc_id")
      .select(col("query_id"), col("doc_id").as("neighbor_id"),
        round(col("__idf")
          * (col("__k") * lit(k1 + 1.0))
          / (col("__k") + lit(k1) * (lit(1.0 - b)
            + lit(b) * col("__len") / lit(avgLen)))
          * lit(1e6)).cast("long").as("__c"))

    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("__s").desc, col("neighbor_id"))
    contrib.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__c")).as("__s"))
      .withColumn("rank", row_number().over(wr))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("__s") / lit(1e6)).as("bm25"), col("rank"))
  }

  /**
   * Reciprocal-rank fusion of two ranked lists sharing the
   * (query_id, neighbor_id, rank) shape — e.g. [[bm25MoreLikeThis]] ⊕
   * [[graft.similarity.Similarity.bruteForceTopK]] — into a hybrid
   * top-`k`: score = Σ_lists 1/(kRrf + rank), the standard RRF with
   * k = 60 (Cormack et al., SIGIR'09), each list's term rounded to
   * integer micro-units before the (integer, order-independent) sum.
   * Output: (query_id, neighbor_id, rrf, rank).
   *
   * Scale shape: both inputs are already top-k'd (≤ nQueries·k rows
   * each), so the union + sum + window is a few thousand rows end to
   * end — the fusion itself can never be the bottleneck; the upstream
   * retrievers are.
   */
  /** A frozen BM25 retrieval model: the query-term table (query_id,
    * token, idf) plus the corpus mean length — everything
    * [[bm25ScoreStateless]] needs to score a document in isolation.
    * O(nQueries·nTerms) driver scalars, the plan-literal model idiom
    * (similarity_ann's planes, quality_classifier's weights). */
  final case class Bm25Model(avgLen: Double,
                             terms: Seq[(Long, String, Double)])

  /** Freeze the retrieval model from a corpus snapshot — the batch side
    * of the ingest-time router: collect the ≤ nQueries·nTerms query-term
    * rows (idf from the same snapshot) and the mean length. */
  def bm25Model(docs: DataFrame, nQueries: Int = 8, nTerms: Int = 5,
                sharedTf: Option[DataFrame] = None): Bm25Model = {
    val tf = sharedTf.getOrElse(TextAnalysis.docTokenCounts(docs))
    val (_, n, avgLen) = corpusStats(tf)
    if (n == 0L) return Bm25Model(0.0, Seq.empty)
    val rows = queryTerms(tf, n, nQueries, nTerms)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    Bm25Model(avgLen, rows.toSeq)
  }

  /**
   * Stateless per-row BM25 scoring against a frozen [[Bm25Model]] — the
   * INGEST-time twin of [[bm25MoreLikeThis]] (standing-query routing:
   * every arriving document is scored against each stored query it
   * shares a term with). The model folds into the plan as literals and
   * each row is scored by folding over its OWN tokens — no explode to
   * occurrence grain, no join, no aggregation, so the operator is
   * append-safe on an unbounded stream with ZERO state and no watermark
   * (the streaming standing-query router; scores equal the batch
   * operator's across microbatch boundaries, StreamingCurationSpec).
   *
   * Per-term micro-unit contributions are the batch arithmetic verbatim
   * (same association order, same HALF_UP micro rounding), so scores are
   * identical to [[bm25MoreLikeThis]] rows for the same (query, doc)
   * pair — asserted in RetrievalSpec. No rank column: a global top-k is
   * meaningless on an unbounded stream; route on a score threshold or
   * window downstream.
   */
  def bm25ScoreStateless(docs: DataFrame, model: Bm25Model,
                         k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val len = size(toks).cast("long")
    val entries = model.terms.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (qid, ts) =>
        val s = ts.map { case (_, term, idf) =>
          // codegen'd occurrence count (r21): `size(filter(toks, _ ===
          // term))` is a CodegenFallback lambda per term per row on the
          // ingest routing path; ArrayCountIn counts the same exact-
          // equality matches natively (TextOpsShimSpec)
          val tf = org.apache.spark.sql.graftshim.ColumnShim.column(
            org.apache.spark.sql.graftshim.ArrayCountIn(
              org.apache.spark.sql.graftshim.ColumnShim.expression(toks),
              Seq(term))).cast("long")
          when(tf > 0L,
            round(lit(idf) * (tf * lit(k1 + 1.0))
              / (tf + lit(k1) * (lit(1.0 - b)
                + lit(b) * len / lit(model.avgLen)))
              * lit(1e6)).cast("long"))
            .otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(qid).as("query_id"), s.as("__s"))
    }
    if (entries.isEmpty)
      return docs.sparkSession.createDataFrame(
        docs.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("neighbor_id", LongType),
          StructField("bm25", DoubleType))))
    docs.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(array(entries: _*)).as("q"))
      .filter(col("q.__s") > 0L && col("doc_id") =!= col("q.query_id"))
      .select(col("q.query_id").as("query_id"),
        col("doc_id").as("neighbor_id"),
        (col("q.__s") / lit(1e6)).as("bm25"))
  }

  def rrfFuse(a: DataFrame, bFrame: DataFrame, k: Int = 5,
              kRrf: Int = 60): DataFrame = {
    val term = round(lit(1e6) / (lit(kRrf) + col("rank"))).cast("long")
    val contribs = a.select(col("query_id"), col("neighbor_id"),
        term.as("__c"))
      .unionByName(bFrame.select(col("query_id"), col("neighbor_id"),
        term.as("__c")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__s").desc, col("neighbor_id"))
    contribs.groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__c")).as("__s"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        (col("__s") / lit(1e6)).as("rrf"), col("rank"))
  }
}
