package graft

import graft.fixtures.Embeddings
import graft.similarity.Similarity
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine: orthogonal → 0, identical → 1, opposite → -1") {
    val df = Seq(
      (Seq(1.0, 0.0), Seq(0.0, 1.0)),
      (Seq(1.0, 2.0), Seq(1.0, 2.0)),
      (Seq(1.0, 0.0), Seq(-1.0, 0.0)))
      .toDF("a", "b")
      .select(round(Similarity.cosine(col("a"), col("b")), 9).as("c"))
    assert(df.collect().map(_.getAs[Double]("c")).toSeq == Seq(0.0, 1.0, -1.0))
  }

  test("brute-force top-k: planted nearest neighbor ranks first, self excluded") {
    // vec 0 is the query; vec 5 is a scaled copy (cosine 1), others orthogonal
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 0),
      (1L, Array(0f, 1f, 0f, 0f), 0),
      (2L, Array(0f, 0f, 1f, 0f), 0),
      (5L, Array(3f, 0f, 0f, 0f), 0))
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteForceTopK(df, nQueries = 1, k = 2).collect()
    assert(out.forall(_.getAs[Long]("neighbor_id") != 0L))
    val top = out.find(_.getAs[Int]("rank") == 1).get
    assert(top.getAs[Long]("neighbor_id") == 5L)
    assert(top.getAs[Double]("cosine") == 1.0)
  }

  test("semanticDecontaminate: bucket-colliding eval hits flagged, best by (cos, id)") {
    // corpus 1 ∥ both eval vectors (cos 1.0, identical sign buckets);
    // corpus 2 flips one sign per 8-bit block → NO table collides, so LSH
    // (correctly) never scores it even though its true cosine is high
    val p = Array.fill(64)(1f)
    val q = p.clone(); (0 until 8).foreach(t => q(t * 8) = -1f)
    val df = Seq(
      (1L, p, 0), (2L, q, 0),
      (110L, p.map(_ * 2f), 0), (121L, p, 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDecontaminate(df,
      isEval = col("vec_id") >= 100L, threshold = 0.25).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("vec_id") == 1L)
    assert(r.getAs[Long]("n_contaminants") == 2L)
    // cosine tie at 1.0 → struct max takes the larger eval id
    assert(r.getAs[Long]("contaminant_id") == 121L)
    assert(r.getAs[Double]("cosine") == 1.0)
  }

  test("stateless semantic decontamination reproduces the batch operator " +
    "row-for-row on sf0.001 embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isEval = col("vec_id") % 11 === 0
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_contaminants"),
        r.getAs[Long]("contaminant_id"), r.getAs[Double]("cosine"))).toSet
    val batch = rows(Similarity.semanticDecontaminate(embs,
      isEval = isEval, threshold = 0.25))
    val stateless = rows(Similarity.semanticDecontaminateStateless(
      embs.filter(!isEval), embs.filter(isEval), threshold = 0.25))
    assert(batch.nonEmpty) // the fixture must actually exercise the path
    assert(stateless == batch,
      s"only-stateless=${stateless -- batch} only-batch=${batch -- stateless}")
  }

  test("stateless decontamination scores id-colliding rows and fails " +
    "loudly on narrow corpus vectors") {
    val p = Array.fill(64)(1f)
    // corpus/eval vec_id spaces are independent: a corpus row sharing an
    // eval id must STILL be scored (dropping it would let contaminated
    // rows through on id coincidence alone)
    val out = Similarity.semanticDecontaminateStateless(
      Seq((100L, p)).toDF("vec_id", "embedding"),
      Seq((100L, p)).toDF("vec_id", "embedding"), threshold = 0.25).collect()
    assert(out.length == 1 && out.head.getAs[Long]("vec_id") == 100L)
    assert(out.head.getAs[Double]("cosine") == 1.0)
    // a corpus vector narrower than bits*tables fails the job loudly —
    // never silently hashes missing coordinates to '0' bits
    val ex = intercept[Throwable] {
      Similarity.semanticDecontaminateStateless(
        Seq((1L, Array.fill(32)(1f))).toDF("vec_id", "embedding"),
        Seq((100L, p)).toDF("vec_id", "embedding"), threshold = 0.25).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(ex).exists(_.contains("bits*tables")),
      s"expected the dim-guard raise_error, got: ${messages(ex)}")
  }

  test("adcTopK: with corpus == codebook, ADC distance is the exact L2²") {
    // 16 vectors at k=16 → every vector IS a codebook row: codes
    // reconstruct exactly and the ADC scan must reproduce brute-force L2²
    val vecs = (0 until 16).map { i =>
      i.toLong -> Array.tabulate(64)(j => (((i * 37 + j * 11) % 19) - 9) / 3f)
    }
    val df = vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")
    val out = Similarity.adcTopK(df, nQueries = 2, topK = 5)
      .collect().groupBy(_.getAs[Long]("query_id"))
    val byId = vecs.toMap
    for (qid <- Seq(0L, 1L)) {
      val qv = byId(qid).map(_.toDouble)
      val expected = vecs.filter(_._1 != qid).map { case (id, v) =>
        id -> v.map(_.toDouble).zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sortBy { case (id, d) => (d, id) }.take(5)
      val got = out(qid).sortBy(_.getAs[Int]("rank"))
        .map(r => r.getAs[Long]("neighbor_id") -> r.getAs[Double]("adc_dist"))
      assert(got.map(_._1).toSeq == expected.map(_._1).toSeq,
        s"query $qid neighbor order")
      got.zip(expected).foreach { case ((_, adc), (_, exact)) =>
        assert(math.abs(adc - exact) < 1e-4, s"query $qid adc $adc vs L2² $exact")
      }
      assert(out(qid).forall(_.getAs[Long]("neighbor_id") != qid))
    }
  }

  test("adcTopKBatch: LUT-table form equals the literal form row-for-row, " +
    "and the plan does not grow with the query count") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist"), r.getAs[Int]("rank"))).toSet
    // same codebook, same µ-rounding, same tie rule → identical output
    val lit8 = rows(Similarity.adcTopK(embs, nQueries = 8, topK = 5))
    val bat8 = rows(Similarity.adcTopKBatch(embs, nQueries = 8, topK = 5))
    assert(lit8 == bat8,
      s"batch != literal; only-batch=${bat8 -- lit8} only-lit=${lit8 -- bat8}")
    // the whole point of the LUT-table form: the analyzed plan is bounded
    // by the codebook, not the query set — 16× the queries may not even
    // double the plan text (the literal form grows ~linearly: each query
    // adds its own m×k literal arrays)
    val small = Similarity.adcTopKBatch(embs, nQueries = 8)
      .queryExecution.analyzed.toString.length
    val large = Similarity.adcTopKBatch(embs, nQueries = 128)
      .queryExecution.analyzed.toString.length
    assert(large < small * 2,
      s"batch-form plan grew with nQueries: 8q=$small chars, 128q=$large chars")
    // sanity on the comparison itself: the literal form DOES grow with
    // the query count (each query adds its own m×k LUT arrays — hundreds
    // of chars per query on top of the fixed codebook text), while the
    // batch form's growth per added query is ~zero
    val litSmall = Similarity.adcTopK(embs, nQueries = 2)
      .queryExecution.analyzed.toString.length
    val litLarge = Similarity.adcTopK(embs, nQueries = 32)
      .queryExecution.analyzed.toString.length
    assert((litLarge - litSmall) / 30 > 200,
      s"expected literal-form plan growth: 2q=$litSmall, 32q=$litLarge")
    assert((litLarge - litSmall) / 30 > 20 * math.max(1, (large - small) / 120),
      s"batch form should grow far slower per query: literal " +
        s"Δ=${litLarge - litSmall}/30q, batch Δ=${large - small}/120q")
  }

  test("ivfPqTopKBatch: LUT-table IVF-PQ equals the literal form " +
    "row-for-row, and the plan does not grow with the query count") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist"), r.getAs[Int]("rank"))).toSet
    val lit8 = rows(Similarity.ivfPqTopK(embs, nQueries = 8, topK = 5))
    val bat8 = rows(Similarity.ivfPqTopKBatch(embs, nQueries = 8, topK = 5))
    assert(lit8.nonEmpty && lit8 == bat8,
      s"batch != literal; only-batch=${bat8 -- lit8} only-lit=${lit8 -- bat8}")
    val small = Similarity.ivfPqTopKBatch(embs, nQueries = 8)
      .queryExecution.analyzed.toString.length
    val large = Similarity.ivfPqTopKBatch(embs, nQueries = 128)
      .queryExecution.analyzed.toString.length
    assert(large < small * 2,
      s"batch-form plan grew with nQueries: 8q=$small chars, 128q=$large chars")
  }

  test("centroidOutliers: farthest-from-centroid ranks first, ties to smaller id") {
    // label 0 centroid = (3, 3, 2.5, 2.5); dist²: id3=210.5, id0=30.5,
    // id1=id2=22.5 (tie → smaller id ranks ahead)
    val df = Seq(
      (0L, Array(0f, 0f, 0f, 0f), 0),
      (1L, Array(2f, 0f, 0f, 0f), 0),
      (2L, Array(0f, 2f, 0f, 0f), 0),
      (3L, Array(10f, 10f, 10f, 10f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.centroidOutliers(df, topK = 3)
      .collect().sortBy(_.getAs[Int]("rank"))
    assert(out.map(_.getAs[Long]("vec_id")).toSeq == Seq(3L, 0L, 1L))
    assert(math.abs(out.head.getAs[Double]("centroid_dist2") - 210.5) < 1e-4)
    assert(out.forall(_.getAs[Int]("label") == 0))
  }

  test("IVF-PQ: neighbors come only from probed cells; probing every cell " +
    "degenerates to exactly the full ADC scan") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivfpq = keys(Similarity.ivfPqTopK(embs, nQueries = 8, topK = 5))
    assert(ivfpq.nonEmpty)
    // every IVF-PQ neighbor must be a member of the plain-IVF candidate
    // set (same coarse quantizer) — ADC only re-ranks within the probes
    val ivfAll = keys(Similarity.ivfHashTopK(embs, nQueries = 8, k = 1000))
    assert(ivfpq.subsetOf(ivfAll),
      s"IVF-PQ produced out-of-probe neighbors: ${ivfpq -- ivfAll}")
    // nProbe == nCells removes the coarse filter entirely: candidates are
    // all non-self vectors, so the output must EQUAL adcTopK row-for-row
    // (same codes, same µ-scaled LUTs, same (dist, id) tie rule). This is
    // the sharp composition check — recall-vs-exact is untestable here
    // because hash-sampled codebooks on iid random vectors quantize to
    // chance level for ANY search stack.
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("adc_dist"), r.getAs[Int]("rank"))).toSet
    val full = rows(Similarity.ivfPqTopK(embs, nQueries = 8, topK = 5,
      nCells = 16, nProbe = 16))
    val adc = rows(Similarity.adcTopK(embs, nQueries = 8, topK = 5))
    assert(full == adc,
      s"all-probe IVF-PQ != ADC scan; only-ivf=${full -- adc} only-adc=${adc -- full}")
  }

  test("residual IVF-PQ: codes ride their cell, neighbors only from probed " +
    "cells, rerank scores are exact cosines from the residual shortlist") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // the cell column stored with the codes IS the coarse assignment
    val codes = Similarity.productQuantizeResidual(embs)
    val cellsByCode = codes.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    val asg = Similarity.ivfCellAssignments(embs).collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell")).toMap
    assert(cellsByCode == asg, "stored cell != coarse assignment")
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val res = keys(Similarity.ivfPqResidualTopK(embs, nQueries = 8, topK = 5))
    assert(res.nonEmpty)
    // same coarse quantizer ⇒ residual neighbors ⊆ plain-IVF candidates
    val ivfAll = keys(Similarity.ivfHashTopK(embs, nQueries = 8, k = 1000))
    assert(res.subsetOf(ivfAll),
      s"residual IVF-PQ produced out-of-probe neighbors: ${res -- ivfAll}")
    // refine tail: neighbors drawn from the residual shortlist, scores
    // are the exact rounded cosines (brute-force arithmetic)
    val short = keys(Similarity.ivfPqResidualTopK(embs, nQueries = 8,
      topK = 100))
    val brute = Similarity.bruteForceTopK(embs, nQueries = 8, k = 499)
      .collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id")) ->
        r.getAs[Double]("cosine")).toMap
    val rr = Similarity.ivfPqResidualTopKRefined(embs, nQueries = 8,
      topK = 5, rerankDepth = 100).collect()
    assert(rr.nonEmpty)
    rr.foreach { r =>
      val k = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(short.contains(k), s"rerank neighbor $k not in shortlist")
      assert(r.getAs[Double]("cosine") == brute(k),
        s"rerank cosine for $k != exact")
    }
  }

  test("residual incremental ingest: stateless assignment against the " +
    "frozen residual model is code-identical to the batch operator") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val model = Similarity.freezeAnnIndexResidual(embs)
      .getOrElse(fail("corpus should freeze a residual model"))
    // frozen against the WHOLE corpus, applied to the whole corpus: the
    // stateless projection must equal productQuantizeResidual against
    // the same structures row-for-row
    val stateless = Similarity.annAssignResidualStateless(embs, model)
      .collect().map(_.toSeq).toSet
    val batch = Similarity.productQuantizeResidual(embs,
        codebook = Some(model.codebook.toArray.map(_.toSeq)),
        cells = Some(model.cells.toArray))
      .collect().map(_.toSeq).toSet
    assert(stateless.nonEmpty && stateless == batch,
      "stateless residual ingest diverged from the batch quantizer")
    // the incremental split: new rows only, frozen on the complement
    val inc = Similarity.incrementalAssignResidual(embs,
      col("vec_id") % 10 === 0).collect()
    assert(inc.nonEmpty)
    assert(inc.forall(_.getAs[Long]("vec_id") % 10 == 0))
  }

  test("residual encoding beats absolute on a clustered corpus: lower " +
    "reconstruction error AND recall@5 at equal knobs (the r20 claim)") {
    // the Embeddings.mixture corpus: hash-placed centers, noise scale
    // rivals center scale — the corpus shape where residual PQ matters
    // (deterministic, so this pins the claim rather than sampling it)
    val embs = Embeddings.mixture(spark, n = 2048, dim = 64,
      nClusters = 16)
    val flatErr = Similarity.productQuantize(embs)
      .agg(avg(col("recon_error"))).first().getDouble(0)
    val resErr = Similarity.productQuantizeResidual(embs)
      .agg(avg(col("recon_error"))).first().getDouble(0)
    assert(resErr < flatErr,
      s"residual recon_error $resErr !< absolute $flatErr")
    val brute = Similarity.bruteForceTopK(embs, nQueries = 8, k = 5)
    def recall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAudit(approx, brute, k = 5)
        .agg(avg(col("recall_at_k"))).first().getDouble(0)
    val rFlat = recall(Similarity.ivfPqTopK(embs, nQueries = 8, topK = 5))
    val rRes = recall(Similarity.ivfPqResidualTopK(embs, nQueries = 8,
      topK = 5))
    assert(rRes > rFlat, s"residual recall $rRes !> absolute $rFlat")
  }

  test("cluster-balanced sample: per-cell cap enforced, full cells kept " +
    "exactly perCell, ranks contiguous, reruns identical") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.clusterBalancedSample(embs, nCells = 16, perCell = 10)
      .collect()
    assert(out.nonEmpty)
    val byCell = out.groupBy(_.getAs[Long]("cell"))
    for ((cell, rows) <- byCell) {
      val n = rows.head.getAs[Long]("cell_n")
      // every row of a cell reports the same pre-cap occupancy
      assert(rows.forall(_.getAs[Long]("cell_n") == n))
      // cap: full cells keep exactly perCell, small cells keep all
      assert(rows.length == math.min(n, 10L).toInt,
        s"cell $cell: kept ${rows.length} of $n with perCell=10")
      // ranks are 1..kept with no gaps (the window is over the cell key)
      assert(rows.map(_.getAs[Int]("cell_rank")).sorted.toSeq ==
        (1 to rows.length))
    }
    // occupancies must account for the whole corpus exactly once
    assert(byCell.values.map(_.head.getAs[Long]("cell_n")).sum == embs.count())
    // pure function of (data, salts): a rerun is row-identical
    val rerun = Similarity.clusterBalancedSample(embs, nCells = 16, perCell = 10)
      .collect()
    assert(out.map(_.toString).sorted.toSeq == rerun.map(_.toString).sorted.toSeq)
  }

  test("LSH ANN: recall@5 >= 0.8 vs brute force on sf0.001 embeddings") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = keys(Similarity.bruteForceTopK(embs, nQueries = 8, k = 5))
    val approx = keys(Similarity.lshTopK(embs, nQueries = 8, k = 5))
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall, missed ${exact -- approx}")
  }

  test("IVF ANN: recall@5 >= 0.6 vs brute force; probes only nProbe cells") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = keys(Similarity.bruteForceTopK(embs, nQueries = 8, k = 5))
    val ivf = keys(Similarity.ivfTopK(embs, nQueries = 8, k = 5,
      nCells = 8, nProbe = 3))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall, missed ${exact -- ivf}")
    assert(ivf.forall { case (q, n) => q != n })
  }

  test("deterministic IVF: recall@5 >= 0.6 vs brute force, self excluded, " +
      "stable across runs") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def keys(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val exact = keys(Similarity.bruteForceTopK(embs, nQueries = 8, k = 5))
    val ivf = keys(Similarity.ivfHashTopK(embs, nQueries = 8, k = 5))
    val recall = (exact & ivf).size.toDouble / exact.size
    assert(recall >= 0.6, s"recall $recall, missed ${exact -- ivf}")
    assert(ivf.forall { case (q, n) => q != n })
    // pure function of the data: a second invocation returns the exact
    // same pairs (the property the oracle check rests on)
    assert(keys(Similarity.ivfHashTopK(embs, nQueries = 8, k = 5)) == ivf)
  }

  test("deterministic IVF: empty corpus yields an empty result, not a crash") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.ivfHashTopK(empty, nQueries = 8, k = 5).count() == 0)
  }

  test("knnLabelAudit: majority vote, tie to smaller label, mislabel flagged") {
    // query 0 (label 9): its 5 nearest are scaled near-copies with labels
    // 1,1,1,2,2 → predicted 1 with 3 votes, disagreement flagged; the
    // orthogonal filler (label 9) never enters the top-5
    def near(eps: Float) = Array(1f, eps, 0f, 0f)
    val rows = Seq(
      (0L, Array(1f, 0f, 0f, 0f), 9),
      (1L, near(0.01f), 1), (2L, near(0.02f), 1), (3L, near(0.03f), 1),
      (4L, near(0.04f), 2), (5L, near(0.05f), 2),
      (6L, Array(0f, 1f, 0f, 0f), 9))
    val embs = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.knnLabelAudit(embs, nQueries = 1, k = 5).collect()
    assert(out.length == 1)
    val r = out(0)
    assert(r.getAs[Long]("query_id") == 0L)
    assert(r.getAs[Int]("true_label") == 9)
    assert(r.getAs[Int]("predicted_label") == 1)
    assert(r.getAs[Long]("n_votes") == 3)
    assert(!r.getAs[Boolean]("agree"))
  }

  test("sign-LSH near-dup: finds planted near-duplicates, never false-positives") {
    // two planted near-dup pairs (scaled + tiny same-sign noise → cosine ≈ 1,
    // identical sign patterns) among sign-diverse fillers
    val dim = 64
    def vec(seed: Int, scale: Double): Seq[Float] = {
      val r = new scala.util.Random(seed)
      Seq.fill(dim)(((r.nextDouble() * 2 - 1) * scale).toFloat).map(x =>
        if (math.abs(x) < 0.05 * scale) (0.1 * scale).toFloat else x)
    }
    val rows =
      Seq((0L, vec(1, 1.0)), (1L, vec(1, 2.0)), (2L, vec(2, 1.0)), (3L, vec(2, 3.0))) ++
        (4L to 20L).map(i => (i, vec(i.toInt * 7, 1.0)))
    val embs = rows.toDF("vec_id", "embedding")
    val got = Similarity.signLshNearDupPairs(embs, threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"))).toSet
    assert(got.contains((0L, 1L)) && got.contains((2L, 3L)), s"missed planted pairs: $got")
    // every reported pair genuinely clears the threshold (verify step is exact)
    val all = Similarity.signLshNearDupPairs(embs, threshold = 0.99).collect()
    assert(all.forall(_.getAs[Double]("cosine") >= 0.99))
  }

  test("labelCentroids: per-(label, dim) means, counts and mean norm") {
    val rows = Seq(
      (0L, Array(1f, 3f), 7),
      (1L, Array(3f, 5f), 7),
      (2L, Array(0f, 4f), 9))
    val out = Similarity.labelCentroids(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => (r.getAs[Int]("label"), r.getAs[Int]("dim")) ->
        (r.getAs[Long]("n_vectors"), r.getAs[Double]("centroid"),
          r.getAs[Double]("mean_norm"))).toMap
    assert(out.keySet == Set((7, 0), (7, 1), (9, 0), (9, 1)))
    assert(out((7, 0)) == ((2L, 2.0, // mean norms: (sqrt(10)+sqrt(34))/2
      math.rint((math.sqrt(10.0) + math.sqrt(34.0)) / 2 * 1e6) / 1e6)))
    assert(out((7, 1))._2 == 4.0)
    assert(out((9, 0)) == ((1L, 0.0, 4.0)))
    assert(out((9, 1))._2 == 4.0)
  }

  test("scalarQuantize: error bounded by half a step; equal vectors share codes") {
    val rows = Seq(
      (0L, Array(0f, 10f, 5f), 1),
      (1L, Array(1f, 20f, 5f), 1),   // dim 2 constant → quantizes error-free
      (2L, Array(0f, 10f, 5f), 1))   // identical to vec 0
    val out = Similarity.scalarQuantize(rows.toDF("vec_id", "embedding", "label"))
      .collect().map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("checksum"), r.getAs[Double]("mean_abs_err"))).toMap
    assert(out(0L)._1 == out(2L)._1, "identical vectors must share codes")
    assert(out(0L)._1 != out(1L)._1)
    // per-dim max error is (mx-mn)/2/255; dims here span 1 and 10 → the
    // mean over 3 dims is far under 0.02; endpoints quantize exactly
    assert(out.values.forall(_._2 <= 0.02), s"errors too large: $out")
    assert(out(0L)._2 == 0.0, "range endpoints must reconstruct exactly")
  }

  test("trained codebook: productQuantize at cfg.rounds equals the " +
    "explicit trainPqCodebook path, and training cuts reconstruction " +
    "error vs the raw sample") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cfg = Similarity.PqConfig(m = 8, k = 32, rounds = 2)
    // cfg-dispatched resolution == the explicit train-then-quantize seam
    val viaCfg = Similarity.productQuantize(embs, cfg).collect()
      .map(_.toSeq).toSet
    val cb = Similarity.trainPqCodebook(embs, cfg, rounds = cfg.rounds)
    val viaExplicit = Similarity.productQuantizeWith(embs, cb, cfg)
      .collect().map(_.toSeq).toSet
    assert(viaCfg == viaExplicit)
    // Lloyd rounds must IMPROVE quantization: mean recon_error strictly
    // below the sampling-only codebook on the same corpus/config
    def meanErr(c: Similarity.PqConfig): Double =
      Similarity.productQuantize(embs, c)
        .agg(avg(col("recon_error"))).collect()(0).getDouble(0)
    val trained = meanErr(cfg)
    val sampled = meanErr(cfg.copy(rounds = 0))
    assert(trained < sampled,
      s"training did not improve recon error: trained=$trained sampled=$sampled")
  }

  test("recallAudit: denominator is the per-query exact-list size, so a " +
    "perfect match on a short exact list reads 1.0") {
    val exact = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("query_id", "neighbor_id")
    val approxFull = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 9L))
      .toDF("query_id", "neighbor_id")
    val r = Similarity.recallAudit(approxFull, exact, k = 5).collect()
    assert(r.length == 1 && r(0).getDouble(1) == 1.0,
      s"short exact list fully matched must read 1.0, got ${r.toSeq}")
    // and a partial match is the matched share of the EXACT list
    val approxHalf = Seq((0L, 1L), (0L, 8L)).toDF("query_id", "neighbor_id")
    val r2 = Similarity.recallAudit(approxHalf, exact, k = 5).collect()
    assert(r2(0).getDouble(1) == 1.0 / 3.0, r2.toSeq.toString)
  }

  test("productQuantize matches an independent scala argmin, incl. tie cases") {
    // integer-valued embeddings → every squared distance is an exact
    // integer (no rounding ambiguity), and i vs i+13 produce IDENTICAL
    // vectors, so zero-distance ties exercise the smaller-cid rule.
    // rounds = 0: this pins the quantization expression + tie rule
    // against the SAMPLED codebook the independent argmin recovers
    val cfg = Similarity.PqConfig(m = 2, k = 4, dim = 8, salt = "pq",
      rounds = 0)
    val emb = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d) % 13 - 6).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.productQuantize(emb, cfg).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        ((r.getAs[Int]("code0"), r.getAs[Int]("code1"),
          r.getAs[Double]("recon_error")))).toMap
    // recover the codebook with the operator's own sampling contract
    val cents = emb
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"),
        md5(concat(lit("pq:"), col("vec_id").cast("string"))).as("ck"))
      .orderBy(col("ck"), col("vec_id"))
      .limit(cfg.k)
      .collect().map(_.getSeq[Double](1))
    val vecs = emb.collect().map(r => r.getAs[Long]("vec_id") ->
      r.getSeq[Float](r.fieldIndex("embedding")).map(_.toDouble)).toMap
    assert(out.size == 20)
    vecs.foreach { case (id, v) =>
      val expected = (0 until cfg.m).map { s =>
        (0 until cfg.k).map { cid =>
          val d = (0 until cfg.sub).map { i =>
            val x = v(s * cfg.sub + i) - cents(cid)(s * cfg.sub + i); x * x
          }.sum
          (d, cid)
        }.min // (d, cid) lexicographic: ties to smaller cid
      }
      val (c0, c1, err) = out(id)
      assert((c0, c1) == ((expected(0)._2, expected(1)._2)),
        s"vec $id codes ($c0,$c1) != expected")
      assert(err == expected.map(_._1).sum, s"vec $id recon_error $err")
    }
    // duplicate vectors get identical codes
    assert(out(0L)._1 == out(13L)._1 && out(0L)._2 == out(13L)._2)
  }

  test("incrementalAssign: appending the new batch's codes to the frozen " +
    "codes table equals re-indexing the whole corpus") {
    // fixture built so the union's hash samples (IVF centroids + PQ
    // codebook) contain NO new-batch ids — the frozen-index premise made
    // literal, so "rebuild from scratch over the union" is a valid ground
    // truth for the incremental path. rounds = 0: under Lloyd training
    // the rebuild's TRAINING SAMPLE includes the new batch, so a frozen
    // codebook ≠ a retrained one by design (the real-world staleness an
    // incremental index accepts until its next rebuild) — the append
    // identity only holds with the sampling-only codebook
    val cfg = Similarity.PqConfig(m = 2, k = 4, dim = 8, salt = "pq",
      rounds = 0)
    val nCells = 4
    val emb = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => (((i * 11 + d * 3) % 17) - 8).toFloat), 0))
      .toDF("vec_id", "embedding", "label")
    def topIds(salt: String, n: Int): Set[Long] = emb
      .select(col("vec_id"),
        md5(concat(lit(salt + ":"), col("vec_id").cast("string"))).as("ck"))
      .orderBy(col("ck"), col("vec_id")).limit(n)
      .collect().map(_.getLong(0)).toSet
    val sampled = topIds("pq", cfg.k) ++ topIds("ivf", nCells)
    val newIds = (0L until 40L).filterNot(sampled).take(8)
    val isNew = col("vec_id").isin(newIds: _*)
    val inc = Similarity.incrementalAssign(emb, isNew, nCells = nCells, cfg = cfg)
    val corpCodes = Similarity.productQuantize(emb.filter(!isNew), cfg)
    val fullCodes = Similarity.productQuantize(emb, cfg)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(inc.count() == newIds.size)
    // codes-table APPEND parity: frozen corpus codes + incremental codes
    // == the codes of a from-scratch rebuild over the union
    assert(rows(corpCodes.unionByName(
        inc.select(corpCodes.columns.map(col).toIndexedSeq: _*))) ==
      rows(fullCodes), "appended codes table != from-scratch rebuild")
    // cell parity: the new rows land in the same IVF cells the union
    // assignment gives them (centroids are frozen AND stable here)
    val viaUnion = Similarity.clusterBalancedSample(emb,
        nCells = nCells, perCell = 1000000)
      .filter(col("vec_id").isin(newIds: _*))
      .select(col("vec_id"), col("cell"))
    assert(rows(inc.select(col("vec_id"), col("cell"))) == rows(viaUnion),
      "incremental cell assignment != union cell assignment")
  }

  test("randomProjection: matches a Scala re-derivation, map-side only") {
    val cfg = Similarity.RpConfig(kDims = 4, dim = 6, seed = 99L, nSample = 3)
    val rows = Seq(
      1L -> Array(1f, 2f, 3f, -1f, 0.5f, 4f),
      2L -> Array(-2f, 0f, 1f, 1f, 1f, -3f))
    val out = Similarity.randomProjection(
      rows.toDF("vec_id", "embedding"), cfg).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // identical fixed-seed matrix, identical fold order
    val rnd = new scala.util.Random(99L)
    val signs = Seq.fill(4)(Seq.fill(6)(if (rnd.nextBoolean()) 1.0 else -1.0))
    for ((id, v) <- rows) {
      val want = signs.map { s =>
        val acc = v.map(_.toDouble).zip(s).foldLeft(0.0) {
          case (a, (x, w)) => a + x * w }
        math.rint(acc / 2.0 * 1e6) / 1e6 // sqrt(4) = 2
      }
      assert(out(id) == want, s"vec $id: got ${out(id)}, want $want")
    }
    // projection must be pure map work: no exchange in the plan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = Similarity.randomProjection(
      rows.toDF("vec_id", "embedding"), cfg).queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"random projection must not shuffle:\n$plan")
  }

  test("rpDistortionAudit: JL ratios center on 1 on the real corpus") {
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val rows = Similarity.rpDistortionAudit(embs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4)))
    assert(rows.length == 28, s"8 sample vecs -> 28 pairs, got ${rows.length}")
    val ratios = rows.map(_._3)
    val mean = ratios.sum / ratios.length
    // E[ratio] = 1 under JL; k=16 gives wide but centered spread
    assert(mean > 0.6 && mean < 1.5, s"mean distortion ratio $mean")
    assert(ratios.forall(r => r > 0.05 && r < 5.0),
      s"pathological distortion: ${ratios.min} .. ${ratios.max}")
  }

  test("LSH ANN output is a subset of candidates re-ranked by true cosine") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.lshTopK(embs, nQueries = 2, k = 3).collect()
    assert(out.forall(r => r.getAs[Long]("neighbor_id") != r.getAs[Long]("query_id")))
    assert(out.forall(r => math.abs(r.getAs[Double]("cosine")) <= 1.0))
    // ranks are dense from 1 within each query
    out.groupBy(_.getAs[Long]("query_id")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rs.length).toSeq)
    }
  }

  test("recallAudit: matched share of the EXACT list, a short " +
    "approximate list scores low, and the registry audit stays in " +
    "(0, 1] with exact 1/k-grain values") {
    val exact = Seq((0L, 10L), (0L, 11L), (0L, 12L), (0L, 13L), (0L, 14L),
      (1L, 20L), (1L, 21L), (1L, 22L), (1L, 23L), (1L, 24L))
      .toDF("query_id", "neighbor_id")
    // query 0: 2 of 5 right (plus a wrong one); query 1: SHORT list, 1 hit
    val approx = Seq((0L, 10L), (0L, 12L), (0L, 99L), (1L, 24L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallAudit(approx, exact, k = 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(got == Map(0L -> 0.4, 1L -> 0.2))

    // the registered audit over the real corpus: every recall in (0, 1]
    // at 1/k grain, both methods present for all 8 queries
    val audit = graft.queries.DataPipelineQueries
      .annRecallAudit(spark, "/root/testdata/sf0.001").collect()
    assert(audit.length == 56) // 7 methods x 8 queries (r20: +ivfpq_flat)
    assert(audit.map(_.getAs[String]("method")).distinct.sorted.toSeq ==
      Seq("ivf", "ivf_d2", "ivfpq", "ivfpq_flat", "ivfpq_rerank", "lsh",
        "pq"))
    audit.map(_.getAs[Double]("recall_at_k")).foreach { r =>
      assert(r >= 0.0 && r <= 1.0 && (r * 5).isWhole, r.toString)
    }
    // the refine stage can only help: exact re-rank of a 100-deep ADC
    // shortlist dominates the plain ADC top-5 on aggregate
    def total(m: String) = audit.filter(_.getAs[String]("method") == m)
      .map(_.getAs[Double]("recall_at_k")).sum
    assert(total("ivfpq_rerank") >= total("ivfpq"),
      s"refine lost recall: ${total("ivfpq_rerank")} < ${total("ivfpq")}")
    // the r20 encoding claim on the registered corpus: residual IVF-PQ
    // recalls at least as much as the absolute baseline on aggregate
    assert(total("ivfpq") >= total("ivfpq_flat"),
      s"residual lost to flat: ${total("ivfpq")} < ${total("ivfpq_flat")}")
  }

  test("ivfPqTopKRefined: exact-cosine scores, neighbors drawn from the " +
    "ADC shortlist, full-depth refine equals probed-cell exact search") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val refined = Similarity.ivfPqTopKRefined(e, nQueries = 4, topK = 5,
      rerankDepth = 25)
    val shortlist = Similarity.ivfPqTopK(e, nQueries = 4, topK = 25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = refined.collect()
    assert(got.nonEmpty)
    // every refined neighbor came from the shortlist
    got.foreach { r =>
      assert(shortlist((r.getAs[Long]("query_id"),
        r.getAs[Long]("neighbor_id"))))
    }
    // ranks are dense per query and scores are true cosines in [-1, 1]
    got.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.toSeq ==
        (1 to rs.length).toSeq)
      rs.foreach(r =>
        assert(math.abs(r.getAs[Double]("cosine")) <= 1.0 + 1e-9))
    }
  }

  test("index staleness: frozen quantizer degrades new-distribution " +
    "recall, retraining recovers past the pre-ingest baseline, the drift " +
    "monitor fires, and the merged stale layout serves row-exactly") {
    val nQ = 32
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .persist()
    val fresh = Embeddings.freshShifted(spark, base.count()).persist()
    // registered knobs: 16-cell quantizer, 4-probe search
    val frozen = Similarity.freezeAnnIndex(base, nCells = 16)
      .get.cells.toArray
    val baseline = Embeddings.meanRecall(base, frozen, nQ, 16, 4)
    val view = Embeddings.newQueryView(base, fresh, nQ)
    val viewBrute = Some(
      Similarity.bruteForceTopK(view, nQueries = nQ, k = 5).persist())
    val frozenNew = Embeddings.meanRecall(view, frozen, nQ, 16, 4,
      brute = viewBrute)
    val retrained = Similarity.freezeAnnIndex(view, nCells = 16)
      .get.cells.toArray
    val retrainedNew = Embeddings.meanRecall(view, retrained, nQ, 16, 4,
      brute = viewBrute)
    // everything above is hash-deterministic, so these are fixed values,
    // not statistical claims: staleness costs new-distribution recall...
    assert(frozenNew < retrainedNew,
      s"frozen=$frozenNew !< retrained=$retrainedNew")
    // ...and retraining recovers to AT LEAST the pre-ingest baseline
    // (the r14 verdict's bar)
    assert(retrainedNew >= baseline,
      s"retrained=$retrainedNew < pre-ingest baseline=$baseline")
    // the registered drift monitor detects the shift from this corpus
    // state (its mean_shift_z axis IS the generator's shift axis), while
    // a same-distribution split reads an order of magnitude lower
    val shifted = Similarity.embeddingDrift(base.unionAll(fresh),
        col("vec_id") >= 100000000L)
      .agg(max(col("mean_shift_z"))).collect()(0).getDouble(0)
    val nullSplit = Similarity.embeddingDrift(base, col("vec_id") % 2 === 0)
      .agg(max(col("mean_shift_z"))).collect()(0).getDouble(0)
    assert(shifted > 1.0 && shifted > 3 * nullSplit,
      s"drift monitor: shifted=$shifted vs null=$nullSplit")
    // maintenance path: base layout + fresh segment (both assigned under
    // the FROZEN cells — live ingest) merged by mergeCellSegments serves
    // the pruned search row-exactly vs the in-memory stale assignments
    val work = java.nio.file.Files.createTempDirectory("ann-stale").toString
    Similarity.ivfCellAssignmentsWith(base, frozen)
      .write.partitionBy("cell").parquet(s"$work/base")
    Similarity.ivfCellAssignmentsWith(fresh, frozen)
      .write.partitionBy("cell").parquet(s"$work/seg")
    graft.sources.TableLayout.mergeCellSegments(spark, s"$work/base",
      Seq(s"$work/seg"), s"$work/merged")
    val combined = base.unionAll(fresh)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getInt(3))).toSet
    val wantRows = rows(Similarity.ivfHashTopKPruned(combined,
      Similarity.ivfCellAssignmentsWith(combined, frozen),
      nQueries = 8, k = 5, nCells = 16, nProbe = 4, cells = Some(frozen)))
    val gotRows = rows(Similarity.ivfHashTopKPruned(combined,
      spark.read.parquet(s"$work/merged"),
      nQueries = 8, k = 5, nCells = 16, nProbe = 4, cells = Some(frozen)))
    assert(gotRows == wantRows && gotRows.nonEmpty)
    viewBrute.foreach(_.unpersist())
    base.unpersist(); fresh.unpersist()
  }

  test("multi-generation drift contract: repeated same-delta drift on an " +
    "absorbed axis reads quiet (case 1), progressive drift re-fires " +
    "(case 2), and axis-aligned spread growth is invisible to z but " +
    "fires std_ratio on exactly the grown dims (case 3)") {
    val base = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val n = base.count()
    def maxZ(df: org.apache.spark.sql.DataFrame,
             isNew: org.apache.spark.sql.Column): Double =
      Similarity.embeddingDrift(df, isNew)
        .agg(max(col("mean_shift_z"))).collect()(0).getDouble(0)

    // case 1 — ABSORPTION: generation 1's cohort folds into the
    // snapshot (exactly what maybeRetrainSwap indexes); generation 2
    // re-sends the SAME band at the SAME delta (disjoint ids)
    val cohort1 = Embeddings.freshShifted(spark, 2 * n)
    val snapshot2 = base.unionAll(cohort1)
    val cohort2same = Embeddings.freshShifted(spark, 2 * n)
      .select((col("vec_id") + lit(500000000L)).as("vec_id"),
        col("embedding"))
    val z1 = maxZ(base.unionAll(cohort1), col("vec_id") >= 100000000L)
    val z2same = maxZ(snapshot2.unionAll(cohort2same),
      col("vec_id") >= 500000000L)
    assert(z2same < z1 / 2.5,
      s"absorption must collapse the repeated-axis z: gen1=$z1 " +
        s"gen2(same delta)=$z2same")

    // case 2 — PROGRESSIVE drift: the mean moves FURTHER (the lifecycle
    // drill's growing-delta regime) and the monitor re-fires vs the
    // quiet same-delta reading
    val cohort2grown = Embeddings.freshShifted(spark, 2 * n, delta = 1.25)
      .select((col("vec_id") + lit(500000000L)).as("vec_id"),
        col("embedding"))
    val z2grown = maxZ(snapshot2.unionAll(cohort2grown),
      col("vec_id") >= 500000000L)
    assert(z2grown > 2 * z2same,
      s"progressive drift must re-fire: same=$z2same grown=$z2grown")

    // case 3 — SPREAD growth, mean in place: same population, band dims
    // scaled 2x (an encoder losing normalization). z stays far under
    // the fire threshold; std_ratio fires on exactly the grown band
    val popA = Embeddings.freshShifted(spark, 2 * n, delta = 0.0)
    val popB = Embeddings.freshShifted(spark, 2 * n, delta = 0.0)
      .select((col("vec_id") + lit(700000000L)).as("vec_id"),
        transform(col("embedding").cast("array<double>"),
          (x, i) => when(i < 16, x * lit(2.0)).otherwise(x))
          .as("embedding"))
    val rows3 = Similarity.embeddingDrift(popA.unionAll(popB),
      col("vec_id") >= 700000000L).collect()
    val z3 = rows3.map(_.getAs[Double]("mean_shift_z")).max
    assert(z3 < 1.5, s"spread growth must stay under the z threshold: $z3")
    val (band, off) = rows3.partition(_.getAs[Int]("dim") < 16)
    assert(band.forall(_.getAs[Double]("std_ratio") > 1.5),
      s"every grown dim must fire the ratio: " +
        s"${band.map(_.getAs[Double]("std_ratio")).min}")
    assert(off.forall(r => math.abs(
        math.log(r.getAs[Double]("std_ratio"))) < math.log(1.3)),
      "untouched dims must sit near ratio 1")
  }

  test("scaledCells width policy: ~128 vectors/cell on a power-of-two " +
    "rung, clamped to [16, 4096]; small corpora keep the toy width") {
    // under-2k corpora: the historical width, unconditionally
    assert(Similarity.scaledCells(0) == 16)
    assert(Similarity.scaledCells(500) == 16)
    assert(Similarity.scaledCells(2048) == 16)
    // the frontier's measured operating point: 1024 cells at 128k
    assert(Similarity.scaledCells(128000) == 1024)
    assert(Similarity.scaledCells(131072) == 1024)
    // interior rungs follow the n/128 ratio
    assert(Similarity.scaledCells(16000) == 128)
    assert(Similarity.scaledCells(4096) == 32)
    // cap: the centroid collect stays bounded at any corpus size
    assert(Similarity.scaledCells(1000000) == 4096)
    assert(Similarity.scaledCells(100000000000L) == 4096)
    // monotone non-decreasing across the rung boundaries near the floor
    val widths = Seq(2048L, 2049L, 3000L, 4096L, 8192L, 16384L)
      .map(Similarity.scaledCells)
    assert(widths == widths.sorted, s"non-monotone: $widths")

    // the serving companion: a probe FRACTION converts to whatever
    // width the store was built at (the width-stable knob, r18 receipt)
    assert(Similarity.scaledProbe(1024) == 4)
    assert(Similarity.scaledProbe(4096) == 16)
    assert(Similarity.scaledProbe(16) == 1)
    assert(Similarity.scaledProbe(256, 0.02) == 6)
    assert(Similarity.scaledProbe(16, 1.0) == 16)
  }

  test("freezeAnnIndex(AutoCells): a small corpus resolves to the " +
    "explicit-16 model BIT-EXACT (the degenerate form is unchanged); a " +
    "larger corpus widens the quantizer per the policy") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val auto = Similarity.freezeAnnIndex(emb, Similarity.AutoCells).get
    val explicit = Similarity.freezeAnnIndex(emb).get
    assert(auto.cells.length == 16)
    assert(auto == explicit,
      "auto width on a small corpus must equal the explicit-16 model")

    // 40k synthetic vectors -> 256 cells (40000/128 = 312.5 -> rung 256),
    // and the widened model really carries 256 trained centroids
    val big = Embeddings.freshShifted(spark, 40000)
      .select(col("vec_id"), col("embedding").cast("array<double>")
        .as("embedding"))
    assert(Similarity.scaledCells(40000) == 256)
    val wide = Similarity.freezeAnnIndex(big, Similarity.AutoCells).get
    assert(wide.cells.length == 256)
    assert(wide.cells.map(_._1).toSeq == (0L until 256L),
      "trained cells are ordinal-id'd 0..width-1")
  }

  test("semanticDedupCells: planted parallel cliques evict all but the " +
    "smallest id; orthogonal mates never match; cap disables pairing") {
    // clique A: ids 0,1,2 parallel along +x (pairwise cosine 1.0);
    // clique B: ids 10,11 parallel along +y — whatever the trained cells
    // do, cross-clique cosine is 0 < τ so only within-clique pairs fire
    val x = Array(1f, 0f, 0f, 0f); val y = Array(0f, 1f, 0f, 0f)
    val df = Seq(
      (0L, x, 0), (1L, x.map(_ * 2f), 0), (2L, x.map(_ * 3f), 0),
      (10L, y, 0), (11L, y.map(_ * 5f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedupCells(df, nCells = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("match_id")),
          Option(r.getAs[java.lang.Double]("match_cosine")))).toMap
    assert(out.size == 5)
    // smallest id of each clique survives with no match
    assert(out(0L) == (("keep", None, None)))
    assert(out(10L) == (("keep", None, None)))
    // later clique members evict against a smaller-id mate at cosine 1.0
    assert(out(1L) == (("dup", Some(0L), Some(1.0))))
    assert(out(11L) == (("dup", Some(10L), Some(1.0))))
    // id 2's best match ties at cosine 1.0 between mates 0 and 1 →
    // smaller keep_id wins (the documented tie rule)
    assert(out(2L) == (("dup", Some(0L), Some(1.0))))

    // maxCellSize below any occupancy → no pairs, everything keeps
    val capped = Similarity.semanticDedupCells(df, nCells = 2,
      maxCellSize = 1).collect()
    assert(capped.forall(_.getAs[String]("verdict") == "keep"))
  }

  test("semanticDedupCellAudit: over-cap cells surface as exempted with " +
    "their share, under-cap cells carry the pair-mass bound, rollup " +
    "total closes (plain-Scala re-derivation)") {
    val x = Array(1f, 0f, 0f, 0f); val y = Array(0f, 1f, 0f, 0f)
    val df = Seq(
      (0L, x, 0), (1L, x.map(_ * 2f), 0), (2L, x.map(_ * 3f), 0),
      (10L, y, 0), (11L, y.map(_ * 5f), 0))
      .toDF("vec_id", "embedding", "label")
    val cap = 2
    val verdicts = Similarity.semanticDedupCells(df, nCells = 2,
      maxCellSize = cap)
    val occ = verdicts.collect().groupBy(_.getAs[Long]("cell"))
      .view.mapValues(_.length.toLong).toMap
    // fixture sanity: the orthogonal cliques land 3/2, so BOTH arms run
    assert(occ.values.toSeq.sorted == Seq(2L, 3L),
      s"expected a 3/2 cell split, got $occ")
    val audit = Similarity.semanticDedupCellAudit(verdicts, maxCellSize = cap)
      .collect()
      .map(r => Option(r.getAs[java.lang.Long]("cell")).map(_.toLong) ->
        (r.getAs[Long]("n_cells"), r.getAs[Long]("n_vectors"),
          r.getAs[Long]("n_over_cap"), r.getAs[Long]("exempted_vectors"),
          r.getAs[Long]("exempted_ppm"), r.getAs[Long]("pair_bound"))).toMap
    assert(audit.size == occ.size + 1) // per-cell rows + rollup total
    occ.foreach { case (cell, n) =>
      val over = n > cap
      assert(audit(Some(cell)) == ((1L, n, if (over) 1L else 0L,
        if (over) n else 0L, if (over) 1000000L else 0L,
        if (over) 0L else n * (n - 1) / 2)))
    }
    val totalExempted = occ.values.filter(_ > cap).sum
    assert(audit(None) == ((occ.size.toLong, 5L,
      occ.values.count(_ > cap).toLong, totalExempted,
      totalExempted * 1000000L / 5L,
      occ.values.filter(_ <= cap).map(n => n * (n - 1) / 2).sum)))
    // the exempted members are exactly the ones the dedup degraded to
    // all-keep: the over-cap cell pairs nothing
    val overCells = occ.collect { case (c, n) if n > cap => c }.toSet
    verdicts.collect().filter(r => overCells(r.getAs[Long]("cell")))
      .foreach(r => assert(r.getAs[String]("verdict") == "keep"))
  }

  test("semanticDedupCells(AutoCells): resolves the width policy (small " +
    "corpus == explicit-16 bit-exact) instead of training an empty " +
    "codebook") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val auto = Similarity.semanticDedupCells(embs,
      nCells = Similarity.AutoCells).collect()
    assert(auto.length == embs.count(),
      "AutoCells must yield one row per vector, not a zero-row frame")
    val explicit = Similarity.semanticDedupCells(embs).collect()
    assert(auto.map(_.toString).sorted.toSeq ==
      explicit.map(_.toString).sorted.toSeq,
      "auto width on a small corpus must equal the explicit-16 result")
  }

  test("semanticDedupIncremental: arrivals verdict against corpus " +
    "cell-mates only, one row per arrival, corpus never re-deduped") {
    val x = Array(1f, 0f, 0f, 0f); val y = Array(0f, 1f, 0f, 0f)
    val z = Array(0f, 0f, 1f, 0f)
    // corpus: 1 (x), 2 (y); arrivals (id >= 100): 100 ∥ corpus 1 → dup,
    // 110 ⊥ everything → new regardless of which cell it lands in
    val df = Seq((1L, x, 0), (2L, y, 0),
      (100L, x.map(_ * 2f), 0), (110L, z, 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedupIncremental(df,
      col("vec_id") >= 100L, nCells = 2).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[String]("verdict"), Option(r.getAs[java.lang.Long]("match_id")),
          Option(r.getAs[java.lang.Double]("match_cosine")))).toMap
    assert(out.size == 2, s"one row per ARRIVAL only, got ${out.keySet}")
    assert(out(100L) == (("dup", Some(1L), Some(1.0))))
    assert(out(110L) == (("new", None, None)))
  }

  test("semanticDedupCells invariants on sf0.001 embeddings: one row " +
    "per vector, per-cell smallest id always keeps, dup matches are " +
    "smaller-id co-cell mates at/above threshold") {
    val embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val out = Similarity.semanticDedupCells(embs, threshold = 0.42).collect()
    assert(out.length == embs.count())
    val byCell = out.groupBy(_.getAs[Long]("cell"))
    byCell.foreach { case (_, rows) =>
      val minId = rows.map(_.getAs[Long]("vec_id")).min
      val minRow = rows.find(_.getAs[Long]("vec_id") == minId).get
      assert(minRow.getAs[String]("verdict") == "keep",
        s"smallest id $minId in its cell must keep")
    }
    out.filter(_.getAs[String]("verdict") == "dup").foreach { r =>
      assert(r.getAs[Long]("match_id") < r.getAs[Long]("vec_id"))
      assert(r.getAs[Double]("match_cosine") >= 0.42)
      // the match lives in the same cell
      val cellIds = byCell(r.getAs[Long]("cell"))
        .map(_.getAs[Long]("vec_id")).toSet
      assert(cellIds.contains(r.getAs[Long]("match_id")))
    }
    out.filter(_.getAs[String]("verdict") == "keep").foreach { r =>
      assert(r.isNullAt(r.fieldIndex("match_id")) &&
        r.isNullAt(r.fieldIndex("match_cosine")))
    }
  }
}
