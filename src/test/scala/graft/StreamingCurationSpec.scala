package graft

import java.sql.Timestamp

import graft.streaming.StreamingCuration
import graft.text.Dedup
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/**
 * Streaming curation vs batch parity, plus the bounded-state semantics
 * the batch oracle cannot see: within-watermark duplicates collapse to
 * one survivor; beyond-horizon duplicates re-emit because their state
 * was (correctly) GC'd.
 */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  test("streaming semantic decontamination: stateless per-microbatch, " +
    "matches the batch operator on the streamed rows") {
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isEval = col("vec_id") % 11 === 0
    val evalSet = all.filter(isEval)
    val corpusRows = all.filter(!isEval).limit(120)
      .collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val out = graft.similarity.Similarity.semanticDecontaminateStateless(
      stream.toDF().toDF("vec_id", "embedding"), evalSet, threshold = 0.25)
    assert(out.isStreaming)
    // two microbatches — stateless means batch boundaries can't matter
    stream.addData(corpusRows.take(60).toIndexedSeq)
    val q = out.writeStream.format("memory").queryName("sdecon")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(corpusRows.drop(60).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("sdecon").collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_contaminants"),
          r.getAs[Long]("contaminant_id"), r.getAs[Double]("cosine"))).toSet
      val streamedIds = corpusRows.map(_._1).toSet
      val batch = graft.similarity.Similarity.semanticDecontaminate(
        all, isEval = isEval, threshold = 0.25).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("n_contaminants"),
          r.getAs[Long]("contaminant_id"), r.getAs[Double]("cosine")))
        .filter(t => streamedIds(t._1)).toSet
      assert(batch.nonEmpty)
      assert(got == batch, s"only-stream=${got -- batch} only-batch=${batch -- got}")
    } finally q.stop()
  }

  test("broadcast-index semantic decontamination flags the same vectors " +
    "as the stateless form; plan stays constant as the eval suite grows") {
    import graft.similarity.Similarity
    val all = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val isEval = col("vec_id") % 11 === 0
    val evalSet = all.filter(isEval)
    val index = Similarity.evalBucketIndex(evalSet)
    val base = 3600000L
    val corpusRows = all.filter(!isEval).limit(120)
      .collect().zipWithIndex.map { case (r, i) =>
        (r.getAs[Long]("vec_id"),
          r.getAs[scala.collection.Seq[Float]]("embedding").toSeq,
          new java.sql.Timestamp(base + i * 1000L))
      }
    val stream = MemoryStream[(Long, Seq[Float], java.sql.Timestamp)](spark)
    val out = Similarity.semanticDecontaminateFlags(
      stream.toDF().toDF("vec_id", "embedding", "ingest_time"), index,
      threshold = 0.25, watermarkDelay = "1 hour")
    assert(out.isStreaming)
    stream.addData(corpusRows.take(60).toIndexedSeq)
    val q = out.writeStream.format("memory").queryName("sdeconb")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(corpusRows.drop(60).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("sdeconb").collect()
        .map(_.getAs[Long]("vec_id")).toSet
      // the stateless literal form over the same streamed rows is the
      // reference: identical buckets, identical rounded-cosine verify
      val streamedIds = corpusRows.map(_._1).toSet
      val want = Similarity.semanticDecontaminateStateless(
        all.filter(!isEval), evalSet, threshold = 0.25).collect()
        .map(_.getAs[Long]("vec_id")).toSet.intersect(streamedIds)
      assert(want.nonEmpty && got == want,
        s"only-broadcast=${got -- want} only-stateless=${want -- got}")
      // the point of the broadcast form: plan text is bounded by the
      // sign-key projection, not the eval suite (index as local data)
      def planLen(n: Int) = Similarity.semanticDecontaminateFlags(
        all.filter(!isEval).withColumn("ingest_time",
          org.apache.spark.sql.functions.to_timestamp(lit("2024-01-01"))),
        Similarity.evalBucketIndex(all.limit(n)), threshold = 0.25)
        .queryExecution.analyzed.toString.length
      assert(planLen(50) < (planLen(5) * 1.3).toInt,
        s"plan grew with the eval suite: 5=${planLen(5)} 50=${planLen(50)}")
    } finally q.stop()
  }

  test("streaming exact dedup matches batch fingerprints within the watermark") {
    val stream = MemoryStream[(Long, String, Timestamp)](spark)
    val out = StreamingCuration.exactDedup(
      stream.toDF().toDF("doc_id", "text", "ingest_time"))
    // dups within and across microbatches, all inside the horizon
    stream.addData((1L, "a b c", ts(100)), (2L, "a b c", ts(101)), (3L, "x y", ts(102)))
    val q = out.writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData((4L, "x y", ts(103)), (5L, "q r", ts(104)))
      q.processAllAvailable()
      // flush: watermark must pass every event for append-mode emission
      stream.addData((99L, "sentinel", ts(10000)))
      q.processAllAvailable()

      val got = spark.table("sdedup").filter(col("doc_id") =!= 99L)
      val batch = Dedup.exact(
        Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y"), (4L, "x y"), (5L, "q r"))
          .toDF("doc_id", "text"))
      // one survivor per distinct text, same fingerprint set as batch
      assert(got.count() == batch.count())
      assert(got.select("fingerprint").collect().map(_.getString(0)).toSet ==
        batch.select("fingerprint").collect().map(_.getString(0)).toSet)
    } finally q.stop()
  }

  test("normalized streaming dedup drops case/punct variants at ingest") {
    val stream = MemoryStream[(Long, String, Timestamp)](spark)
    val out = StreamingCuration.exactDedup(
      stream.toDF().toDF("doc_id", "text", "ingest_time"), normalized = true)
    stream.addData((1L, "Hello,   World!", ts(100)), (2L, "hello world", ts(101)),
      (3L, "other doc", ts(102)))
    val q = out.writeStream.format("memory").queryName("sdedup_norm")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData((99L, "sentinel", ts(10000)))
      q.processAllAvailable()
      val got = spark.table("sdedup_norm").filter(col("doc_id") =!= 99L)
        .collect().map(_.getAs[Long]("doc_id")).sorted
      // raw-byte dedup would keep both 1 and 2; normalization collapses them
      assert(got.toSeq == Seq(1L, 3L), s"got ${got.toSeq}")
      // and the surviving fingerprints match the batch normalized operator
      val batch = Dedup.normalizedExact(
        Seq((1L, "Hello,   World!"), (2L, "hello world"), (3L, "other doc"))
          .toDF("doc_id", "text"))
        .select("fingerprint").collect().map(_.getString(0)).toSet
      val streamFp = spark.table("sdedup_norm").filter(col("doc_id") =!= 99L)
        .select("fingerprint").collect().map(_.getString(0)).toSet
      assert(streamFp == batch)
    } finally q.stop()
  }

  test("unicode streaming dedup collapses composed/decomposed + case " +
    "variants across scripts at ingest; batch-fingerprint parity") {
    val stream = MemoryStream[(Long, String, Timestamp)](spark)
    val out = StreamingCuration.exactDedup(
      stream.toDF().toDF("doc_id", "text", "ingest_time"), unicode = true)
    // doc 2 carries DECOMPOSED accents (e + U+0301), doc 3 is a case
    // variant; doc 4 is a different Cyrillic doc that must survive
    stream.addData(
      (1L, "Café déjà", ts(100)),
      (2L, "cafe\u0301 de\u0301ja\u0300", ts(101)),
      (3L, "CAFÉ DÉJÀ!", ts(102)),
      (4L, "Москва столица", ts(103)))
    val q = out.writeStream.format("memory").queryName("sdedup_uni")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData((99L, "sentinel", ts(10000)))
      q.processAllAvailable()
      val got = spark.table("sdedup_uni").filter(col("doc_id") =!= 99L)
        .collect().map(_.getAs[Long]("doc_id")).sorted
      assert(got.toSeq == Seq(1L, 4L), s"got ${got.toSeq}")
      val batch = Dedup.unicodeExact(
        Seq((1L, "Café déjà"), (2L, "cafe\u0301 de\u0301ja\u0300"),
          (3L, "CAFÉ DÉJÀ!"), (4L, "Москва столица"))
          .toDF("doc_id", "text"))
        .select("fingerprint").collect().map(_.getString(0)).toSet
      val streamFp = spark.table("sdedup_uni").filter(col("doc_id") =!= 99L)
        .select("fingerprint").collect().map(_.getString(0)).toSet
      assert(streamFp == batch)
    } finally q.stop()
  }

  test("duplicates beyond the watermark horizon re-emit (state was GC'd)") {
    val stream = MemoryStream[(Long, String, Timestamp)](spark)
    val out = StreamingCuration.exactDedup(
      stream.toDF().toDF("doc_id", "text", "ingest_time"),
      watermarkDelay = "10 seconds")
    stream.addData((1L, "dup text", ts(100)))
    val q = out.writeStream.format("memory").queryName("sdedup_gc")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // push the watermark far past 100s + 10s → doc 1's state expires
      stream.addData((50L, "advance", ts(5000)))
      q.processAllAvailable()
      // same text again, event-time after the watermark → accepted, and
      // with no surviving state it re-emits — the documented horizon trade
      stream.addData((2L, "dup text", ts(4995)))
      q.processAllAvailable()
      stream.addData((99L, "sentinel", ts(100000)))
      q.processAllAvailable()

      val dups = spark.table("sdedup_gc")
        .filter(col("text") === "dup text").collect().map(_.getAs[Long]("doc_id"))
      assert(dups.sorted.toSeq == Seq(1L, 2L),
        s"expected both horizon-separated copies to emit, got ${dups.toSeq}")
    } finally q.stop()
  }

  test("streaming sessionization matches the batch operator on closed sessions") {
    val rows = Seq(
      (7L, ts(100), "view", 1.0), (7L, ts(130), "purchase", 2.0),
      (8L, ts(100), "view", 5.0),
      (7L, ts(500), "view", 1.0)) // > gap after 130 → second session for user 7
    val stream = MemoryStream[(Long, Timestamp, String, Double)](spark)
    val out = StreamingCuration.sessionizeStream(
      stream.toDF().toDF("user_id", "ts", "event_type", "value"),
      gapSeconds = 60L)
    // split across micro-batches so session state genuinely carries
    stream.addData(rows.take(3): _*)
    val q = out.writeStream.format("memory").queryName("ssessions")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(rows.drop(3): _*)
      q.processAllAvailable()
      // sentinel pushes the watermark past every session close
      stream.addData((99L, ts(100000), "view", 0.0))
      q.processAllAvailable()

      val got = spark.table("ssessions").filter(col("user_id") =!= 99L)
        .collect().map(_.toSeq).toSet
      val want = graft.ops.Sessionize.userSessions(
        rows.toDF("user_id", "ts", "event_type", "value"), gapSeconds = 60L)
        .collect().map(_.toSeq).toSet
      assert(want.size == 3, s"fixture should close 3 sessions, got $want")
      assert(got == want)
    } finally q.stop()
  }

  test("stateless curation ops (quality gate) run on a stream unchanged") {
    // qualityGate is pure per-row projection — the SAME function applies
    // to a streaming frame with no rewrite, watermark, or state; this
    // pins that property (a regression to e.g. a window or groupBy in the
    // gate would break streaming ingest pipelines that compose it)
    import graft.text.TextAnalysis
    val rows = Seq(
      (1L, ((1 to 35).map(i => s"w$i") :+ "the").mkString(" ")),
      (2L, "too short"))
    val stream = MemoryStream[(Long, String)](spark)
    val out = TextAnalysis.qualityGate(stream.toDF().toDF("doc_id", "text"))
    stream.addData(rows: _*)
    val q = out.writeStream.format("memory").queryName("sgate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sgate").collect().map(_.toSeq).toSet
      val want = TextAnalysis.qualityGate(rows.toDF("doc_id", "text"))
        .collect().map(_.toSeq).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("windowed CMS cells match the batch sketch per window") {
    import graft.streaming.StreamingCuration
    // two 60s windows of skewed user traffic, split across microbatches
    val w1 = (1 to 12).map(i => (7L, ts(5 + i))) ++ Seq((3L, ts(20)), (8L, ts(40)))
    val w2 = Seq((7L, ts(70)), (3L, ts(80)), (3L, ts(90)), (41L, ts(110)))
    val stream = MemoryStream[(Long, Timestamp)](spark)
    val out = StreamingCuration.countMinCellsStream(
      stream.toDF().toDF("user_id", "ts"), col("user_id"), width = 8)
    stream.addData(w1: _*)
    val q = out.writeStream.format("memory").queryName("scms")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(w2: _*); q.processAllAvailable()
      stream.addData((999L, ts(10000))); q.processAllAvailable()

      val got = spark.table("scms")
        .filter(col("window_start") < ts(1000))
        .collect()
        .map(r => (r.getAs[Timestamp]("window_start").getTime / 1000,
          r.getAs[Int]("r"), r.getAs[Long]("b")) -> r.getAs[Long]("c")).toMap
      // batch sketch over each window's rows must yield identical cells
      val want = Seq(0L -> w1, 60L -> w2).flatMap { case (ws, rows) =>
        graft.ops.Sketches.countMinCells(
          rows.map(_._1).toDF("user_id"), col("user_id"), width = 8)
          .collect()
          .map(r => (ws, r.getAs[Int]("r"), r.getAs[Long]("b")) ->
            r.getAs[Long]("c"))
      }.toMap
      assert(want.nonEmpty && got == want,
        s"only-stream=${got.toSet -- want.toSet} only-batch=${want.toSet -- got.toSet}")
    } finally q.stop()
  }

  test("streaming quality classifier: stateless, matches batch scores " +
    "across microbatch boundaries, under TRAINED weights") {
    // the model filter at ingest: per-row fold over the literal weight
    // array — batch boundaries can't matter, scores equal the
    // broadcast-join batch operator on the same docs. Weights are the
    // TRAINED table (the registry's deployment shape): a frozen model
    // snapshot folded into the streaming plan as one literal
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val weights = Some(graft.text.TextAnalysis.trainNbWeights(
      corpus, col("lang") === "en"))
    val docRows = corpus
      .filter(col("text").isNotNull).limit(80)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)](spark)
    val out = graft.text.TextAnalysis.hashedLinearScoreStateless(
      stream.toDF().toDF("doc_id", "text"), weights = weights)
    assert(out.isStreaming)
    stream.addData(docRows.take(40).toIndexedSeq)
    val q = out.writeStream.format("memory").queryName("sqclass")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(docRows.drop(40).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("sqclass").collect().map(_.toSeq).toSet
      val want = graft.text.TextAnalysis.hashedLinearScore(
        docRows.toSeq.toDF("doc_id", "text"), weights = weights)
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty)
      assert(got == want, s"only-stream=${got -- want} only-batch=${want -- got}")
    } finally q.stop()
  }

  test("streaming lang id: stateless, matches the TRAINED batch scorer " +
    "across microbatch boundaries") {
    // language stamping at ingest: the |langs| trained weight tables are
    // plan literals, scoring is a per-row trigram fold — zero state, so
    // batch boundaries can't matter and rows equal the batch operator's
    val corpus = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val w = graft.text.TextAnalysis.trainLangIdWeights(corpus)
    val docRows = corpus
      .filter(col("text").isNotNull).limit(80)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)](spark)
    val out = graft.text.TextAnalysis.langIdTrainedStateless(
      stream.toDF().toDF("doc_id", "text"), weights = w)
    assert(out.isStreaming)
    stream.addData(docRows.take(40).toIndexedSeq)
    val q = out.writeStream.format("memory").queryName("slangid")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(docRows.drop(40).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("slangid").collect().map(_.toSeq).toSet
      val want = graft.text.TextAnalysis.langIdTrainedStateless(
        docRows.toSeq.toDF("doc_id", "text"), weights = w)
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty)
      assert(got == want, s"only-stream=${got -- want} only-batch=${want -- got}")
    } finally q.stop()
  }

  test("streaming bm25 router: stateless, matches batch scores " +
    "across microbatch boundaries") {
    // standing-query routing at ingest: the frozen model is plan
    // literals, scoring is a per-row fold — batch boundaries can't
    // matter, and scores equal the batch operator's pair-for-pair
    import graft.text.Retrieval
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("text").isNotNull).limit(80)
      .select("doc_id", "text")
    val model = Retrieval.bm25Model(docs)
    val docRows = docs.collect().map(r => (r.getLong(0), r.getString(1)))
    val stream = MemoryStream[(Long, String)](spark)
    val out = Retrieval.bm25ScoreStateless(
      stream.toDF().toDF("doc_id", "text"), model)
    assert(out.isStreaming)
    stream.addData(docRows.take(40).toIndexedSeq)
    val q = out.writeStream.format("memory").queryName("sbm25")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(docRows.drop(40).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("sbm25").collect().map(_.toSeq).toSet
      val want = Retrieval.bm25ScoreStateless(
        docRows.toSeq.toDF("doc_id", "text"), model)
        .collect().map(_.toSeq).toSet
      assert(want.nonEmpty)
      assert(got == want, s"only-stream=${got -- want} only-batch=${want -- got}")
    } finally q.stop()
  }

  test("stateless pseudonymization runs on a stream unchanged") {
    // Privacy.pseudonymize is pure per-row projection — raw identifiers
    // can be scrubbed at INGEST, before anything lands; this pins that
    // the op stays stateless (no window/groupBy creeping in)
    import graft.privacy.Privacy
    val rows = Seq((8L, "click"), (8L, "view"), (9L, "click"))
    val stream = MemoryStream[(Long, String)](spark)
    val out = Privacy.pseudonymize(
      stream.toDF().toDF("user_id", "event_type"), "user_id")
    stream.addData(rows: _*)
    val q = out.writeStream.format("memory").queryName("spseudo")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("spseudo").collect().map(_.toSeq).toSet
      val want = Privacy.pseudonymize(
        rows.toDF("user_id", "event_type"), "user_id")
        .collect().map(_.toSeq).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("stateless quality gate runs on a stream unchanged") {
    // TextAnalysis.qualityGate is pure per-row scoring — documents can be
    // gated at INGEST, before anything lands; this pins that no
    // corpus-wide aggregation creeps into the rule set
    import graft.text.TextAnalysis
    val rows = Seq(
      (1L, "the quick brown fox jumps over a lazy dog again and again today"),
      (2L, "x"),
      (3L, Seq.fill(40)("spam").mkString(" ")))
    val stream = MemoryStream[(Long, String)](spark)
    val out = TextAnalysis.qualityGate(stream.toDF().toDF("doc_id", "text"))
    stream.addData(rows: _*)
    val q = out.writeStream.format("memory").queryName("sqgate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("sqgate").collect().map(_.toSeq).toSet
      val want = TextAnalysis.qualityGate(rows.toDF("doc_id", "text"))
        .collect().map(_.toSeq).toSet
      assert(got == want)
    } finally q.stop()
  }

  test("leakage-safe split runs on a stream unchanged; unseen docs key " +
    "on their own content") {
    // clusterSafeSplit is two stream-static LEFT joins + projection —
    // split assignment can happen at INGEST against a landed membership
    // snapshot; this pins statelessness AND the unseen-doc fallback
    import graft.text.TextAnalysis
    val corpus = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta x"),
      (10L, "completely different text")).toDF("doc_id", "text")
    val membership = Seq((1L, 1L), (2L, 1L)).toDF("doc_id", "cluster_id")
    val streamed = Seq((1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta x"),
      (10L, "completely different text"),
      (99L, "brand new never landed doc")) // absent from corpus+membership
    val stream = MemoryStream[(Long, String)](spark)
    val out = TextAnalysis.clusterSafeSplit(
      stream.toDF().toDF("doc_id", "text"), membership, canonDocs = corpus)
    stream.addData(streamed: _*)
    val q = out.writeStream.format("memory").queryName("ssplit")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssplit").collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
      val want = TextAnalysis.clusterSafeSplit(
        streamed.toDF("doc_id", "text"), membership, canonDocs = corpus)
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
      assert(got == want && got.size == 4)
      // cluster members agree; the unseen doc got ITS OWN content's split
      assert(got(1L) == got(2L))
      val own = TextAnalysis.hashSplit(
        Seq((99L, "brand new never landed doc")).toDF("doc_id", "text"))
        .collect().head.getAs[String]("split")
      assert(got(99L) == own)
    } finally q.stop()
  }

  test("ingest-time robust length gate scores against the frozen landed " +
    "baseline, stateless on a stream; unseen sources keep with NULL z") {
    import graft.text.TextAnalysis
    // landed corpus: src-a docs around 1000 chars (one mild wobble)
    val landed = ((0 until 11).map(i => (i.toLong, s"t$i", "a", 1000L + (i % 3) * 10)))
      .toDF("doc_id", "text", "source", "n_chars")
    val stats = TextAnalysis.sourceLengthStats(landed)
    // arrivals: one normal src-a doc, one wild outlier vs the LANDED
    // baseline, one doc from a source the snapshot has never seen
    val arrivals = Seq(
      (100L, "x", "a", 1005L), (101L, "x", "a", 50000L),
      (102L, "x", "brandnew", 123L))
    val stream = MemoryStream[(Long, String, String, Long)](spark)
    val out = TextAnalysis.robustLengthGateStream(
      stream.toDF().toDF("doc_id", "text", "source", "n_chars"), stats)
    stream.addData(arrivals: _*)
    val q = out.writeStream.format("memory").queryName("srgate")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (Option(r.getAs[java.lang.Double]("robust_z")),
            r.getAs[Boolean]("keep"))).toMap
      val got = canon(spark.table("srgate"))
      // stateless: identical to the same operator over a batch frame
      val want = canon(TextAnalysis.robustLengthGateStream(
        arrivals.toDF("doc_id", "text", "source", "n_chars"), stats))
      assert(got == want && got.size == 3)
      assert(got(100L)._2, "normal arrival kept")
      assert(!got(101L)._2 && got(101L)._1.exists(_ > 3.5), "outlier dropped")
      assert(got(102L)._2 && got(102L)._1.isEmpty, "unseen source kept, NULL z")
      // the frozen-baseline point: the outlier did NOT move the bar —
      // its own robust_z is computed against the landed median, not a
      // baseline containing itself
      val med = stats.filter(col("source") === "a").head().getAs[Double]("med")
      assert(med == 1010.0 || med == 1000.0 || (med > 999 && med < 1011))
    } finally q.stop()
  }

  test("windowed token counts match the batch vocabulary per window") {
    import graft.streaming.StreamingCuration
    // two 60s windows of docs, split across microbatches
    val w1 = Seq((1L, "a b a", ts(10)), (2L, "b c", ts(30)))
    val w2 = Seq((3L, "a a", ts(70)), (4L, "c", ts(95)))
    val stream = MemoryStream[(Long, String, Timestamp)](spark)
    val out = StreamingCuration.windowedTokenCounts(
      stream.toDF().toDF("doc_id", "text", "ingest_time"))
    stream.addData(w1: _*)
    val q = out.writeStream.format("memory").queryName("svocab")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(w2: _*); q.processAllAvailable()
      stream.addData((99L, "sentinel", ts(10000))); q.processAllAvailable()

      val got = spark.table("svocab")
        .filter(col("token") =!= "sentinel")
        .collect()
        .map(r => (r.getAs[Timestamp]("window_start").getTime / 1000,
          r.getAs[String]("token")) ->
          (r.getAs[Long]("n_occurrences"), r.getAs[Long]("doc_freq"))).toMap
      // window [0,60): a ×3 in 2... a appears 2× in doc 1 only; b in docs
      // 1 and 2; window [60,120): a ×2 in doc 3, c ×1 in doc 4
      assert(got == Map(
        (0L, "a") -> ((2L, 1L)), (0L, "b") -> ((2L, 2L)), (0L, "c") -> ((1L, 1L)),
        (60L, "a") -> ((2L, 1L)), (60L, "c") -> ((1L, 1L))))
    } finally q.stop()
  }

  test("streaming decontamination flags the same docs as the batch twin") {
    val bench = Seq(
      (0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    // doc 1 copies a 5-gram from the benchmark; docs 2/3 don't; doc 1's
    // second shingle hit must NOT produce a second flag row
    val trainRows = Seq(
      (1L, "x alpha beta gamma delta epsilon zeta y"),
      (2L, "alpha beta gamma q delta epsilon zeta w"),
      (3L, "one two three four five six"))

    val stream = MemoryStream[(Long, String, Timestamp)](spark)
    val benchIndex = StreamingCuration.benchShingleIndex(bench)
    val out = StreamingCuration.decontaminateFlags(
      stream.toDF().toDF("doc_id", "text", "ingest_time"), benchIndex)
    stream.addData(trainRows.zipWithIndex.map {
      case ((id, text), i) => (id, text, ts(100 + i)) }: _*)
    val q = out.writeStream.format("memory").queryName("sdecon")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData((99L, "sentinel words only", ts(10000)))
      q.processAllAvailable()

      val got = spark.table("sdecon").collect().map(_.getAs[Long]("doc_id")).toSeq
      val want = Dedup.decontaminate(
        (bench.as[(Long, String)].collect().toSeq ++ trainRows).toDF("doc_id", "text"),
        isBenchmark = col("doc_id") === 0L)
        .collect().map(_.getAs[Long]("doc_id")).toSeq
      assert(got.sorted == want.sorted,
        s"streaming flags $got != batch flags $want")
      // a per-row probe of the broadcast shingle set: no batch of the
      // query holds streaming state
      assert(q.recentProgress.nonEmpty &&
        q.recentProgress.forall(_.stateOperators.isEmpty),
        q.recentProgress.flatMap(_.stateOperators).mkString("\n"))
    } finally q.stop()
  }

  test("semanticDedupStream: flagged-id set equals the batch incremental " +
    "operator's dup verdicts over the same split and frozen cells") {
    import graft.similarity.Similarity
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // plant corpus-side parallel clones of two ARRIVING vectors (ids
    // 10015/10025: % 10 == 5 → corpus) so the dup set is provably
    // non-empty whatever the organic near-dup density
    val extra = base.filter(col("vec_id").isin(10L, 20L))
      .select((col("vec_id") + lit(10005L)).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"),
        col("label"))
    val all = base.unionByName(extra)
    val isNew = col("vec_id") % 10 === 0
    val cells = Similarity.ivfCells(all)
    val corpus = all.filter(!isNew)
    val newRows = all.filter(isNew).collect().zipWithIndex.map {
      case (r, i) => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq,
        new Timestamp(3600000L + i * 1000L))
    }
    val stream = MemoryStream[(Long, Seq[Float], Timestamp)](spark)
    val out = Similarity.semanticDedupFlags(
      stream.toDF().toDF("vec_id", "embedding", "ingest_time"),
      corpus, cells, threshold = 0.42, watermarkDelay = "1 hour")
    assert(out.isStreaming)
    val q = out.writeStream.format("memory").queryName("semdedupstr")
      .outputMode("append").start()
    try {
      stream.addData(newRows.take(newRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(newRows.drop(newRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("semdedupstr").collect()
        .map(_.getAs[Long]("vec_id")).toSet
      val want = Similarity.semanticDedupIncremental(all, isNew,
          cells = Some(cells))
        .filter(col("verdict") === "dup").collect()
        .map(_.getAs[Long]("vec_id")).toSet
      assert(Set(10L, 20L).subsetOf(want),
        s"planted parallel clones must verdict dup, got $want")
      assert(got == want,
        s"only-stream=${got -- want} only-batch=${want -- got}")
    } finally q.stop()
  }

  test("selectTokenBudgetStream: per-source running-budget admission — " +
    "fill-then-spill with at most one-document overflow, monotone state " +
    "across microbatches, rejects forever once filled") {
    val stream = MemoryStream[(Long, String, String)](spark)
    // budget 10; s1 docs carry 4 tokens each → docs 1,2 admit (before
    // 0, 4), doc 3 admits at before 8 (< 10, overflows to 12), doc 4+
    // reject; s2 has its own independent budget
    val out = StreamingCuration.selectTokenBudgetStream(
      stream.toDF().toDF("doc_id", "text", "source"), budget = 10L)
    assert(out.isStreaming)
    val q = out.toDF().writeStream.format("memory").queryName("stb")
      .outputMode("append").start()
    try {
      stream.addData((1L, "a b c d", "s1"), (2L, "a b c d", "s1"),
        (20L, "x y z", "s2"))
      q.processAllAvailable()
      stream.addData((3L, "a b c d", "s1"), (4L, "a b c d", "s1"),
        (21L, "x y z w q v e r t", "s2"), (22L, "x", "s2"))
      q.processAllAvailable()
      val got = spark.table("stb").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("admitted_before"), r.getAs[Boolean]("selected")))
        .toMap
      assert(got.size == 7, "one output row per fed document")
      assert(got(1L) == ((0L, true)) && got(2L) == ((4L, true)))
      assert(got(3L) == ((8L, true)),
        "before 8 < 10 admits — the one-document overflow")
      assert(got(4L) == ((12L, false)), "budget consumed: reject")
      // s2 independent: 3 + 9 = 12 > 10 only after doc 21 admits
      assert(got(20L) == ((0L, true)) && got(21L) == ((3L, true)))
      assert(got(22L) == ((12L, false)))
      // contract: selected == admitted_before < budget on every row
      spark.table("stb").collect().foreach { r =>
        assert(r.getAs[Boolean]("selected") ==
          (r.getAs[Long]("admitted_before") < 10L))
      }
    } finally q.stop()
  }

  test("selectTokenBudgetStream: restart on the same checkpoint recovers " +
    "the admitted total — a source filled before the stop admits NOTHING " +
    "after it; no document re-admitted or skipped") {
    import java.nio.file.Files
    withTempDir("stb_restart") { work =>
      val topic = Files.createDirectories(work.resolve("topic"))
      val outDir = work.resolve("out").toString
      val ck = work.resolve("ck").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType)))
      def feed(name: String, rows: Seq[(Long, String, String)]): Unit = {
        val lines = rows.toDF("doc_id", "text", "source").toJSON.collect()
        Files.write(topic.resolve(name),
          String.join("\n", lines: _*).getBytes("UTF-8"))
      }
      def launch() = StreamingCuration.selectTokenBudgetStream(
          graft.streaming.JsonStreams.decode(
            spark.readStream.option("maxFilesPerTrigger", 1)
              .text(topic.toString), schema),
          budget = 6L)
        .toDF().writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ck)
        .outputMode("append").start()

      // phase 1 fills s1's budget exactly past the brim (4 + 4 ≥ 6)
      feed("b0.json", Seq((1L, "a b c d", "s1"), (2L, "a b c d", "s1")))
      val p1 = launch()
      try p1.processAllAvailable() finally p1.stop()

      // phase 2 on the SAME checkpoint: if state were lost, doc 3 would
      // re-admit against a fresh budget
      feed("b1.json", Seq((3L, "a b", "s1"), (30L, "x y", "s2")))
      val p2 = launch()
      try p2.processAllAvailable() finally p2.stop()

      val got = spark.read.parquet(outDir).collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("admitted_before"), r.getAs[Boolean]("selected")))
        .toMap
      assert(got.keySet == Set(1L, 2L, 3L, 30L),
        s"docs skipped or re-emitted across restart: ${got.keySet}")
      assert(got(1L)._2 && got(2L)._2, "phase-1 admissions")
      assert(got(3L) == ((8L, false)),
        "recovered state must reject doc 3 against the consumed budget")
      assert(got(30L) == ((0L, true)), "fresh source admits after restart")
    }
  }
}
