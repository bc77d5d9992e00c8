package graft

import graft.fixtures.Embeddings
import graft.similarity.Similarity
import graft.streaming.{JsonStreams, StreamingCuration, StreamingCurationJobs}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.nio.file.Files

/**
 * Streaming ANN ingest vs batch parity: assignment against a frozen
 * [[Similarity.AnnIndexModel]] is a stateless projection, so microbatch
 * boundaries cannot change a single code, and the deployed job topology
 * (JSON topic → decode → assign → JSON codes topic) emits exactly the
 * batch operator's rows.
 */
class StreamingAnnIngestSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  // projection + read schema derived from the default m, so the spec
  // keeps covering EVERY code column if the PQ defaults move again
  private val pqM = Similarity.pqDefaults.m

  private def codeRow(r: org.apache.spark.sql.Row): (Long, Long, Seq[Int], Double) =
    (r.getAs[Long]("vec_id"), r.getAs[Long]("cell"),
      (0 until pqM).map(s => r.getAs[Int](s"code$s")).toList,
      r.getAs[Double]("recon_error"))

  private val codesSchemaDdl: String =
    "vec_id LONG, cell LONG, " +
      (0 until pqM).map(s => s"code$s INT").mkString(", ") +
      ", recon_error DOUBLE"

  test("annIngestStream matches incrementalAssign across microbatch " +
    "boundaries with zero state") {
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isNew = col("vec_id") % 10 === 0
    val model = Similarity.freezeAnnIndex(all.filter(!isNew)).get

    val newRows = all.filter(isNew).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    assert(newRows.length > 10)

    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val out = StreamingCuration.annIngestStream(
      stream.toDF().toDF("vec_id", "embedding"), model)
    assert(out.isStreaming)
    stream.addData(newRows.take(newRows.length / 2).toIndexedSeq)
    val q = out.writeStream.format("memory").queryName("ann_ingest")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(newRows.drop(newRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      // stateless topology: no state operators at all
      assert(q.lastProgress.stateOperators.isEmpty)
      val got = spark.table("ann_ingest").collect().map(codeRow).toSet
      val batch = Similarity.incrementalAssign(all, isNew)
        .collect().map(codeRow).toSet
      assert(batch.nonEmpty)
      assert(got == batch,
        s"only-stream=${got -- batch} only-batch=${batch -- got}")
    } finally q.stop()
  }

  test("annIngestResidualStream matches incrementalAssignResidual across " +
    "microbatch boundaries with zero state") {
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isNew = col("vec_id") % 10 === 0
    val model = Similarity.freezeAnnIndexResidual(all.filter(!isNew)).get
    val newRows = all.filter(isNew).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val out = StreamingCuration.annIngestResidualStream(
      stream.toDF().toDF("vec_id", "embedding"), model)
    assert(out.isStreaming)
    stream.addData(newRows.take(newRows.length / 2).toIndexedSeq)
    val q = out.writeStream.format("memory").queryName("ann_ingest_res")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      stream.addData(newRows.drop(newRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      assert(q.lastProgress.stateOperators.isEmpty)
      val got = spark.table("ann_ingest_res").collect().map(codeRow).toSet
      val batch = Similarity.incrementalAssignResidual(all, isNew)
        .collect().map(codeRow).toSet
      assert(batch.nonEmpty)
      assert(got == batch,
        s"only-stream=${got -- batch} only-batch=${batch -- got}")
    } finally q.stop()
  }

  test("runAnnIngestJob: topic-to-topic codes equal the batch assignment; " +
    "malformed and wrong-dim vectors are dropped") {
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isNew = col("vec_id") % 10 === 0
    val model = Similarity.freezeAnnIndex(all.filter(!isNew)).get

    val work = Files.createTempDirectory("ann_ingest_job").toString
    val topic = s"$work/emb_topic"
    Files.createDirectories(java.nio.file.Paths.get(topic))
    // feed: the new batch encoded exactly as a producer would, plus junk
    // lines the decode/guard must drop
    val feed = JsonStreams.encode(
        all.filter(isNew).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding")))
      .collect().map(_.getString(0)) ++ Seq(
        "not json at all",
        """{"vec_id": 999999}""",
        """{"vec_id": 999998, "embedding": [1.0, 2.0]}""")
    Files.write(java.nio.file.Paths.get(s"$topic/part-0.json"),
      String.join("\n", feed: _*).getBytes)

    val q = StreamingCurationJobs.runAnnIngestJob(spark, topic, model, work)
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.schema(codesSchemaDdl)
      .json(s"$work/codes").collect().map(codeRow).toSet
    val batch = Similarity.incrementalAssign(all, isNew)
      .collect().map(codeRow).toSet
    assert(batch.nonEmpty)
    assert(got == batch,
      s"only-stream=${got -- batch} only-batch=${batch -- got}")
  }

  test("live IVF segments: vectors stream-landed into the cell layout " +
    "under frozen centroids equal a batch-built layout, and the pruned " +
    "query prunes BOTH segment sets at listing") {
    import graft.sources.TableLayout
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isNew = col("vec_id") % 10 === 0
    val corpus = all.filter(!isNew)
    val work = Files.createTempDirectory("ann_cell_land").toString

    // base segment set: the corpus batch-written under its own cells
    Similarity.ivfCellAssignments(corpus)
      .write.partitionBy("cell").parquet(s"$work/base")
    // live segment set: new vectors land through the stream, assigned
    // against the FROZEN corpus quantizer (stateless projection)
    val newRows = all.filter(isNew).collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getAs[scala.collection.Seq[Float]]("embedding").toSeq))
    val stream = MemoryStream[(Long, Seq[Float])](spark)
    val q = TableLayout.streamToCellPartitioned(
      Similarity.ivfCellAssignmentsAgainst(
        stream.toDF().toDF("vec_id", "embedding"), corpus),
      s"$work/live", s"$work/ck")
    try {
      stream.addData(newRows.take(newRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
      stream.addData(newRows.drop(newRows.length / 2).toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()

    val layout = spark.read.parquet(s"$work/base")
      .unionByName(spark.read.parquet(s"$work/live"))
    assert(layout.count() == all.count(), "every vector landed exactly once")

    // batch-equivalent reference: the full set assigned under the same
    // frozen centroids, written as one layout
    Similarity.ivfCellAssignmentsAgainst(all, corpus)
      .write.partitionBy("cell").parquet(s"$work/ref")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    val pruned = Similarity.ivfHashTopKPruned(corpus, layout,
      nQueries = 2, k = 5)
    val want = rows(Similarity.ivfHashTopKPruned(corpus,
      spark.read.parquet(s"$work/ref"), nQueries = 2, k = 5))
    assert(want.nonEmpty && rows(pruned) == want)

    // both segment sets prune at listing: each partitioned scan reads
    // at most the probed cells, not all 16
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def walk(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val through = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case qs: QueryStageExec => Seq(qs.plan)
        case other => other.children
      }
      p +: through.flatMap(walk)
    }
    pruned.collect()
    val cellScans = walk(pruned.queryExecution.executedPlan)
      .collect { case f: FileSourceScanExec
        if f.relation.partitionSchema.fieldNames.contains("cell") => f }
    assert(cellScans.size == 2, s"expected 2 partitioned scans, " +
      s"got ${cellScans.size}")
    cellScans.foreach { s =>
      assert(s.partitionFilters.nonEmpty, s.toString)
      assert(s.metrics("numPartitions").value < 16,
        s.metrics("numPartitions"))
    }

    // maintenance: merge the live segments into a fresh base — rows
    // preserved, recllustered to one file per cell, pruned query
    // unchanged over the merged layout
    TableLayout.mergeCellSegments(spark, s"$work/base",
      Seq(s"$work/live"), s"$work/merged")
    val merged = spark.read.parquet(s"$work/merged")
    assert(merged.count() == all.count())
    assert(rows(Similarity.ivfHashTopKPruned(corpus, merged,
      nQueries = 2, k = 5)) == want)
    val perCell = {
      val s = Files.list(java.nio.file.Paths.get(s"$work/merged"))
      try s.toArray.map(_.toString).filter(_.contains("cell=")).map { d =>
        val f = Files.list(java.nio.file.Paths.get(d))
        try f.toArray.map(_.toString).count(_.endsWith(".parquet"))
        finally f.close()
      } finally s.close()
    }
    assert(perCell.nonEmpty && perCell.forall(_ == 1),
      s"expected one merged file per cell, got ${perCell.toSeq}")

    // touched-cells-only merge: identical rows/search results, and every
    // base cell the segments did NOT touch moves at FILE level — its
    // parquet file names survive verbatim (copied, never decoded).
    // Segment restricted to two cells so untouched cells EXIST (the live
    // dir above lands vectors in nearly every cell).
    val liveRows = spark.read.parquet(s"$work/live")
    val twoCells = liveRows.select(col("cell")).distinct()
      .orderBy(col("cell")).limit(2)
      .collect().map(_.getInt(0))
    liveRows.filter(col("cell").isin(twoCells.toIndexedSeq: _*))
      .write.partitionBy("cell").parquet(s"$work/live2")
    TableLayout.mergeCellSegments(spark, s"$work/base",
      Seq(s"$work/live2"), s"$work/merged_t", touchedOnly = true)
    val mergedT = spark.read.parquet(s"$work/merged_t")
    val seg2Rows = spark.read.parquet(s"$work/live2").count()
    assert(mergedT.count() == corpus.count() + seg2Rows)
    // the full merge of the SAME inputs row-matches the touched-only one
    TableLayout.mergeCellSegments(spark, s"$work/base",
      Seq(s"$work/live2"), s"$work/merged_t_full")
    def idCells(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(idCells(mergedT) ==
      idCells(spark.read.parquet(s"$work/merged_t_full")))
    def cellFiles(dir: String): Map[String, Set[String]] = {
      val s = Files.list(java.nio.file.Paths.get(dir))
      try s.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => p.getFileName.toString.startsWith("cell="))
        .map { d =>
          val f = Files.list(d)
          try d.getFileName.toString -> f.toArray
            .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
            .filter(_.endsWith(".parquet")).toSet
          finally f.close()
        }.toMap
      finally s.close()
    }
    val touched = cellFiles(s"$work/live2").keySet
    assert(touched.nonEmpty)
    val baseFiles = cellFiles(s"$work/base")
    val outFiles = cellFiles(s"$work/merged_t")
    val untouched = baseFiles.keySet -- touched
    assert(untouched.nonEmpty, "fixture must leave some cells untouched")
    untouched.foreach { c =>
      assert(outFiles(c) == baseFiles(c),
        s"untouched cell $c was rewritten: ${outFiles(c)} vs ${baseFiles(c)}")
    }
  }

  test("runAnnLayoutJob: topic-to-segments landing equals the batch " +
    "assignment; malformed and wrong-dim vectors are dropped") {
    import graft.streaming.StreamingCurationJobs
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isNew = col("vec_id") % 10 === 0
    val corpus = all.filter(!isNew)

    val work = Files.createTempDirectory("ann_layout_job").toString
    val topic = s"$work/emb_topic"
    Files.createDirectories(java.nio.file.Paths.get(topic))
    val feed = JsonStreams.encode(
        all.filter(isNew).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding")))
      .collect().map(_.getString(0)) ++ Seq(
        "not json at all",
        """{"vec_id": 999999}""",
        """{"vec_id": 999998, "embedding": [1.0, 2.0]}""")
    Files.write(java.nio.file.Paths.get(s"$topic/part-0.json"),
      String.join("\n", feed: _*).getBytes)

    val q = StreamingCurationJobs.runAnnLayoutJob(spark, topic, corpus,
      s"$work/segments", s"$work/ck")
    try q.processAllAvailable() finally q.stop()

    def asn(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("cell").cast("long").as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val landed = asn(spark.read.parquet(s"$work/segments"))
    val want = asn(Similarity.ivfCellAssignmentsAgainst(
      all.filter(isNew), corpus))
    assert(want.nonEmpty && landed == want,
      s"only-landed=${landed -- want} only-batch=${want -- landed}")
  }

  test("drift-triggered retrain + atomic hot swap: the policy gates on " +
    "monitor AND budget, a publish racing a serve loop never yields a " +
    "mixed-model result, offsets survive the generation restart, and " +
    "post-swap recall on new-distribution queries recovers") {
    import graft.similarity.AnnLifecycle
    val nCells = 16
    val nProbe = 4
    val base = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
      .persist()
    val nBase = base.count()
    val work = Files.createTempDirectory("ann_swap").toString
    val dir = s"$work/index"
    val topic = s"$work/emb_topic"
    val ck = s"$work/ck"
    Files.createDirectories(java.nio.file.Paths.get(topic))

    // generation 1: freeze on the base corpus, publish, start ingest
    val cells1 = Similarity.freezeAnnIndex(base, nCells).get.cells.toArray
    AnnLifecycle.publish(spark, dir, 1, cells1, base)
    assert(AnnLifecycle.currentVersion(dir).contains(1))

    val fresh = Embeddings.freshShifted(spark, 2 * nBase)
      .select(col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
      .persist()
    val nFresh = fresh.count()
    def feed(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val lines = JsonStreams.encode(df).collect().map(_.getString(0))
      Files.write(java.nio.file.Paths.get(s"$topic/$name.json"),
        String.join("\n", lines: _*).getBytes)
    }

    val gen1 = AnnLifecycle.runIngestGeneration(spark, dir, 1, topic, ck)
    try {
      // batch 1: genuinely shifted but BELOW the share budget — the
      // monitor fires (z is share-independent), the policy must NOT
      val cut = 100000000L + nBase / 10
      feed(fresh.filter(col("vec_id") < cut), "b1")
      gen1.processAllAvailable()
      val d1 = AnnLifecycle.maybeRetrainSwap(spark, dir, nCells)
      assert(d1.driftZ > 3.0, s"monitor should fire on the shifted batch: $d1")
      assert(!d1.fired && d1.published.isEmpty && d1.newShare <= 0.25,
        s"below-budget share must not retrain: $d1")
      assert(AnnLifecycle.currentVersion(dir).contains(1))
      // batch 2: the rest — share 2.0 clears the budget
      feed(fresh.filter(col("vec_id") >= cut), "b2")
      gen1.processAllAvailable()
    } finally gen1.stop()

    // race the publish against a serve loop: every observed result must
    // row-equal exactly ONE generation's expected output (version dirs
    // are immutable and the manifest flip is atomic — never a mix)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Double]("cosine"), r.getAs[Int]("rank"))).toSet
    val nQ = 4
    val (vPre, pre) = AnnLifecycle.serveTopK(spark, dir, base, nQ, 5,
      nCells, nProbe)
    assert(vPre == 1)
    val observed = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Set[(Long, Long, Double, Int)])]
    observed += ((vPre, rows(pre)))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val swap = Future {
      AnnLifecycle.maybeRetrainSwap(spark, dir, nCells)
    }
    while (!swap.isCompleted) {
      val (v, df) = AnnLifecycle.serveTopK(spark, dir, base, nQ, 5,
        nCells, nProbe)
      observed += ((v, rows(df)))
    }
    val d2 = Await.result(swap, scala.concurrent.duration.Duration.Inf)
    assert(d2.fired && d2.published.exists(_.version == 2), s"$d2")
    assert(AnnLifecycle.currentVersion(dir).contains(2))
    val (vPost, post) = AnnLifecycle.serveTopK(spark, dir, base, nQ, 5,
      nCells, nProbe)
    assert(vPost == 2)
    observed += ((vPost, rows(post)))
    val expected = Map(
      1 -> rows(AnnLifecycle.serveTopKAt(spark, dir, 1, base, nQ, 5,
        nCells, nProbe)),
      2 -> rows(AnnLifecycle.serveTopKAt(spark, dir, 2, base, nQ, 5,
        nCells, nProbe)))
    assert(expected(1) != expected(2),
      "fixture must actually change the serving result across the swap")
    observed.foreach { case (v, r) =>
      assert(r == expected(v),
        s"serve under v$v diverged from that generation's expected rows")
    }
    assert(observed.exists(_._1 == 1) && observed.exists(_._1 == 2))

    // exactly-once across the boundary: generation 2's snapshot holds
    // every vector exactly once
    val l2 = spark.read.parquet(s"$dir/v2/layout")
    assert(l2.count() == nBase + nFresh)
    assert(l2.select(col("vec_id")).distinct().count() == nBase + nFresh)

    // generation restart against the SAME checkpoint: already-drained
    // offsets are not re-read (live_v2 stays empty), new arrivals land
    // under the new model and serve immediately
    val gen2 = AnnLifecycle.runIngestGeneration(spark, dir, 2, topic, ck)
    try {
      gen2.processAllAvailable()
      assert(AnnLifecycle.liveVectors(spark, dir, 2).count() == 0,
        "drained offsets were re-ingested into the new generation")
      val extra = Embeddings.freshShifted(spark, 10)
        .select((col("vec_id") + lit(300000000L)).as("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
      feed(extra, "b3")
      gen2.processAllAvailable()
      assert(AnnLifecycle.liveVectors(spark, dir, 2).count() == 10)
      val (v3, served) = AnnLifecycle.serveTopK(spark, dir, base, nQ, 5,
        nCells, nProbe)
      assert(v3 == 2 && rows(served).nonEmpty)
    } finally gen2.stop()

    // recall recovery for new-distribution queries: the retrained
    // generation's centroids must beat the frozen ones (BASELINE.md
    // r15: frozen ~0.8, retrained 1.0 at the sf0.01 rung)
    val view = Embeddings.newQueryView(base, fresh, 16)
      .persist()
    val cells2 = AnnLifecycle.loadCells(spark, dir, 2)
    val rFrozen = Embeddings.meanRecall(view, cells1, 16, nCells, nProbe)
    val rRetrained = Embeddings.meanRecall(view, cells2, 16, nCells, nProbe)
    info(s"new-query recall: frozen=$rFrozen retrained=$rRetrained")
    assert(rRetrained > rFrozen,
      s"retrain must recover new-query recall: $rFrozen -> $rRetrained")
    assert(rRetrained >= 0.9, s"retrained recall $rRetrained below floor")
    view.unpersist(); base.unpersist(); fresh.unpersist()
  }

  test("a processing-time trigger changes microbatch cadence, never the " +
    "codes: trigger-run output equals the default-trigger batch parity") {
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val isNew = col("vec_id") % 10 === 0
    val model = Similarity.freezeAnnIndex(all.filter(!isNew)).get

    val work = Files.createTempDirectory("ann_ingest_trig").toString
    val topic = s"$work/emb_topic"
    Files.createDirectories(java.nio.file.Paths.get(topic))
    val feed = JsonStreams.encode(
        all.filter(isNew).select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding")))
      .collect().map(_.getString(0))
    Files.write(java.nio.file.Paths.get(s"$topic/part-0.json"),
      String.join("\n", feed: _*).getBytes)

    val q = StreamingCurationJobs.runAnnIngestJob(spark, topic, model, work,
      triggerInterval = Some("1 second"))
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.schema(codesSchemaDdl)
      .json(s"$work/codes").collect().map(codeRow).toSet
    val batch = Similarity.incrementalAssign(all, isNew)
      .collect().map(codeRow).toSet
    assert(batch.nonEmpty)
    assert(got == batch,
      s"only-stream=${got -- batch} only-batch=${batch -- got}")
  }
}
