package graft

import graft.sources.VersionedDir
import graft.streaming.{FrozenModelStore, JsonStreams, StreamingCuration}
import graft.text.{Retrieval, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.{Files, Path, Paths}

/**
 * The FrozenModelStore swap drill the store's scaladoc promises (r16
 * verdict ask #6, spec landed r18): a versioned stateless twin scores a
 * doc stream under generation v1, the query STOPS, v2 publishes, the
 * SAME builder restarts on the SAME checkpoint, more docs arrive.
 * Asserts, per the recipe:
 *
 *  (a) every output row carries exactly one `model_version`;
 *  (b) no doc is scored twice or skipped across the restart — source
 *      offsets continue;
 *  (c) pre-restart rows score under v1's weights and post-restart rows
 *      under v2's, BIT-EXACT against the batch operator run with each
 *      generation's model;
 *  (d) a publish racing a RUNNING query changes nothing until restart —
 *      a Structured Streaming plan freezes its literals at build.
 *
 * Drilled over all three store instances: the literal-folded classifier
 * weights, the literal-folded BM25 term rows, and the broadcast
 * robust-gate stats TABLE (whose generation path is immutable, so the
 * stream-static join can never read a half-swapped model).
 */
class FrozenModelSwapSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val nBuckets = 256

  private def docs(): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
      .filter(col("text").isNotNull)

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private def feed(topic: Path, name: String, df: DataFrame): Unit = {
    val lines = df.toJSON.collect()
    Files.write(topic.resolve(name),
      String.join("\n", lines: _*).getBytes("UTF-8"))
  }

  private def readTopic(topic: Path): DataFrame =
    JsonStreams.decode(
      spark.readStream.option("maxFilesPerTrigger", 2).text(topic.toString),
      docSchema)

  // two DIFFERENT deterministic weight tables — the drill must be able
  // to tell which generation scored a row from the score alone
  private val w1 = Array.tabulate(nBuckets)(b => (b * 7L) % 2001L - 1000L)
  private val w2 = Array.tabulate(nBuckets)(b => (b * 13L + 5L) % 2001L - 1000L)

  test("classifier swap drill: stop -> publish v2 -> restart on the SAME " +
    "checkpoint; every row stamped with exactly one model_version, no doc " +
    "re-scored or skipped, scores bit-exact per generation, and a publish " +
    "racing a RUNNING query changes nothing until restart") {
    assert(!(w1 sameElements w2))
    withTempDir("frozen_swap_clf") { work =>
      val topic = Files.createDirectories(work.resolve("topic"))
      val store = work.resolve("store").toString
      val out = work.resolve("out").toString
      val ck = work.resolve("ck").toString

      val d = docs()
      val wave1 = d.filter(col("doc_id") % 3 === 0)
      val wave1b = d.filter(col("doc_id") % 3 === 1)
      val wave2 = d.filter(col("doc_id") % 3 === 2)

      FrozenModelStore.publishWeights(spark, store, 1, w1)
      assert(FrozenModelStore.currentVersion(store).contains(1))

      def launch() = StreamingCuration
        .qualityClassifierStreamVersioned(spark, readTopic(topic), store,
          nBuckets)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()

      // phase 1: wave1 under v1
      feed(topic, "b0.json", wave1)
      val p1 = launch()
      try {
        p1.processAllAvailable()
        // (d) publish v2 while p1 RUNS: the running plan's literals are
        // frozen — wave1b must still score under v1 with a v1 stamp
        FrozenModelStore.publishWeights(spark, store, 2, w2)
        assert(FrozenModelStore.currentVersion(store).contains(2))
        feed(topic, "b1.json", wave1b)
        p1.processAllAvailable()
      } finally p1.stop()

      // phase 2: the SAME builder, SAME checkpoint — resolves v2; offsets
      // continue so b0/b1 files are not re-read
      feed(topic, "b2.json", wave2)
      val p2 = launch()
      try p2.processAllAvailable() finally p2.stop()

      val got = spark.read.parquet(out)
        .select(col("doc_id"), col("logit"), col("model_version"))
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))

      // (b) exactly-once across the restart: every fed doc once
      val fedIds = (wave1.unionByName(wave1b).unionByName(wave2))
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got.map(_._1).toSet == fedIds, "docs skipped or invented")
      assert(got.length == fedIds.size,
        s"${got.length} rows for ${fedIds.size} docs — re-scored across restart")

      // (a) + (c): stamp partition matches the feed phases, scores
      // bit-exact vs the batch operator under each generation's weights
      def batchLogit(w: Array[Long], in: DataFrame): Map[Long, Double] =
        TextAnalysis.hashedLinearScoreStateless(in, nBuckets, 0.0, Some(w))
          .select(col("doc_id"), col("logit")).collect()
          .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want1 = batchLogit(w1, wave1.unionByName(wave1b))
      val want2 = batchLogit(w2, wave2)
      got.foreach { case (id, logit, v) =>
        if (want1.contains(id)) {
          assert(v == 1, s"doc $id fed under v1 stamped v$v")
          assert(logit == want1(id),
            s"doc $id: stream logit $logit != batch-under-w1 ${want1(id)}")
        } else {
          assert(v == 2, s"doc $id fed under v2 stamped v$v")
          assert(logit == want2(id),
            s"doc $id: stream logit $logit != batch-under-w2 ${want2(id)}")
        }
      }
      // the racing publish really was invisible: wave1b rows (fed AFTER
      // the v2 publish, scored by the still-running v1 plan) carry v1
      val wave1bIds = wave1b.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got.filter(t => wave1bIds(t._1)).forall(_._3 == 1),
        "a publish racing a running query leaked into its output")
    }
  }

  test("BM25 route swap drill: literal-folded term rows re-resolve on " +
    "restart; routed rows stamped per generation, scores bit-exact vs " +
    "the batch scorer under each generation's model") {
    withTempDir("frozen_swap_bm25") { work =>
      val topic = Files.createDirectories(work.resolve("topic"))
      val store = work.resolve("store").toString
      val out = work.resolve("out").toString
      val ck = work.resolve("ck").toString

      val d = docs()
      val wave1 = d.filter(col("doc_id") % 2 === 0)
      val wave2 = d.filter(col("doc_id") % 2 === 1)

      // two genuinely different routing models: frozen from disjoint
      // corpus halves (different query docs, different idf tables)
      val m1 = Retrieval.bm25Model(d.filter(col("doc_id") % 5 < 2), nQueries = 4)
      val m2 = Retrieval.bm25Model(d.filter(col("doc_id") % 5 >= 2), nQueries = 4)
      assert(m1.terms.nonEmpty && m2.terms.nonEmpty && m1 != m2)

      FrozenModelStore.publishBm25(spark, store, 1, m1)
      // round-trip fidelity: the model IS the generation
      assert(FrozenModelStore.loadBm25(spark, store, 1).terms.toSet
        == m1.terms.toSet)

      def launch() = StreamingCuration
        .bm25RouteStreamVersioned(spark, readTopic(topic), store)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()

      feed(topic, "b0.json", wave1)
      val p1 = launch()
      try p1.processAllAvailable() finally p1.stop()

      FrozenModelStore.publishBm25(spark, store, 2, m2)
      feed(topic, "b1.json", wave2)
      val p2 = launch()
      try p2.processAllAvailable() finally p2.stop()

      val got = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Double]("bm25"), r.getAs[Int]("model_version")))

      def want(m: Retrieval.Bm25Model, in: DataFrame, v: Int) =
        Retrieval.bm25ScoreStateless(in, m).collect()
          .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
            r.getAs[Double]("bm25"), v)).toSet
      val expected = want(m1, wave1, 1) ++ want(m2, wave2, 2)
      assert(expected.nonEmpty)
      assert(got.toSet == expected,
        s"only-stream=${got.toSet -- expected} only-batch=${expected -- got.toSet}")
      assert(got.length == expected.size, "duplicate routed rows")
    }
  }

  test("robust-gate swap drill: the broadcast stats TABLE re-resolves on " +
    "restart (generation paths are immutable under the stream-static " +
    "join); gate decisions bit-exact vs the batch formula per generation") {
    withTempDir("frozen_swap_gate") { work =>
      val topic = Files.createDirectories(work.resolve("topic"))
      val store = work.resolve("store").toString
      val out = work.resolve("out").toString
      val ck = work.resolve("ck").toString

      val d = docs()
      val wave1 = d.filter(col("doc_id") % 2 === 0)
      val wave2 = d.filter(col("doc_id") % 2 === 1)

      // baselines frozen from disjoint landed snapshots
      val stats1 = TextAnalysis.sourceLengthStats(d.filter(col("doc_id") % 5 < 2))
      val stats2 = TextAnalysis.sourceLengthStats(d.filter(col("doc_id") % 5 >= 2))
      FrozenModelStore.publish(store, 1, stats1)

      def launch() = StreamingCuration
        .robustLengthGateStreamVersioned(spark, readTopic(topic), store)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").start()

      feed(topic, "b0.json", wave1)
      val p1 = launch()
      try p1.processAllAvailable() finally p1.stop()

      FrozenModelStore.publish(store, 2, stats2)
      feed(topic, "b1.json", wave2)
      val p2 = launch()
      try p2.processAllAvailable() finally p2.stop()

      val got = spark.read.parquet(out).collect()
        .map(r => (r.getAs[Long]("doc_id"),
          Option(r.getAs[java.lang.Double]("robust_z")).map(_.doubleValue()),
          r.getAs[Boolean]("keep"), r.getAs[Int]("model_version"))).toSet

      def want(stats: DataFrame, in: DataFrame, v: Int) =
        TextAnalysis.robustLengthGateStream(in, stats).collect()
          .map(r => (r.getAs[Long]("doc_id"),
            Option(r.getAs[java.lang.Double]("robust_z")).map(_.doubleValue()),
            r.getAs[Boolean]("keep"), v)).toSet
      val expected = want(stats1, wave1, 1) ++ want(stats2, wave2, 2)
      assert(got == expected,
        s"only-stream=${got -- expected} only-batch=${expected -- got}")
      // both generations really contributed
      assert(got.exists(_._4 == 1) && got.exists(_._4 == 2))
    }
  }

  test("publish refuses to overwrite an immutable generation; a crashed, " +
    "unflipped publish is re-staged without an option") {
    import spark.implicits._
    withTempDir("frozen_guard") { root =>
      val store = root.resolve("s").toString
      FrozenModelStore.publish(store, 1, Seq((0, 1L)).toDF("bucket", "w"))
      val e = intercept[IllegalArgumentException] {
        FrozenModelStore.publish(store, 1, Seq((0, 2L)).toDF("bucket", "w"))
      }
      assert(e.getMessage.contains("immutable"))
      assert(FrozenModelStore.loadWeights(spark, store, 1).toSeq == Seq(1L),
        "a refused publish must not touch the tree")
      // a publish of v2 that died between its model write and its flip
      Seq((0, 2L)).toDF("bucket", "w").write.parquet(s"$store/v2/model")
      assert(FrozenModelStore.currentVersion(store).contains(1))
      FrozenModelStore.publish(store, 2, Seq((0, 3L)).toDF("bucket", "w"))
      assert(FrozenModelStore.currentVersion(store).contains(2))
      assert(FrozenModelStore.loadWeights(spark, store, 2).toSeq == Seq(3L))
    }
  }

  test("publish refuses a version pruneVersions deleted: the manifest " +
    "never flips backwards and the stamp keeps one weight set") {
    import spark.implicits._
    withTempDir("frozen_guard") { root =>
      val store = root.resolve("s").toString
      (1 to 3).foreach { v =>
        FrozenModelStore.publish(store, v, Seq((0, v.toLong)).toDF("bucket", "w"))
      }
      assert(FrozenModelStore.pruneVersions(store, keep = 1) == Seq(1, 2))
      val e = intercept[IllegalArgumentException] {
        FrozenModelStore.publish(store, 2, Seq((0, 9L)).toDF("bucket", "w"))
      }
      assert(e.getMessage.contains("immutable"))
      assert(FrozenModelStore.currentVersion(store).contains(3))
      assert(FrozenModelStore.publishedVersions(store) == Seq(3))
    }
  }

  /** Hidden (retire debris) entries directly under a store. */
  private def hiddenEntries(store: String): Seq[String] =
    VersionedDir.entries(Paths.get(store)).map(_.getFileName.toString)
      .filter(_.startsWith("."))

  test("pruneVersions crashed at the retire boundary: the manifest and " +
    "the kept trees are untouched, and the next pass heals and converges") {
    import spark.implicits._
    withTempDir("frozen_prune") { root =>
      val store = root.resolve("s").toString
      (1 to 3).foreach { v =>
        FrozenModelStore.publish(store, v, Seq((0, v.toLong)).toDF("bucket", "w"))
      }
      VersionedDir.crashHook = p =>
        if (p == "gen-retired") sys.error(s"crash at $p")
      try intercept[RuntimeException] {
        FrozenModelStore.pruneVersions(store, keep = 2)
      } finally VersionedDir.crashHook = _ => ()
      // mid-crash: v1 sits under its hidden retired name, not deleted
      assert(FrozenModelStore.publishedVersions(store) == Seq(2, 3))
      assert(hiddenEntries(store).exists(_.startsWith(".v1.retired-")))
      assert(FrozenModelStore.currentVersion(store).contains(3))

      // the healed re-run restores v1, then prunes it for good
      assert(FrozenModelStore.pruneVersions(store, keep = 2) == Seq(1))
      assert(FrozenModelStore.publishedVersions(store) == Seq(2, 3))
      assert(hiddenEntries(store).isEmpty, "zero debris after heal")
      assert(FrozenModelStore.loadWeights(spark, store, 2).toSeq == Seq(2L))
    }
  }

  test("pruneVersions keeps the newest `keep` trees, never the current, " +
    "heals retire debris, and pruned stamps stay attributable (the " +
    "manifest and survivors are untouched)") {
    import spark.implicits._
    withTempDir("frozen_prune") { root =>
      val store = root.resolve("s").toString
      (1 to 5).foreach { v =>
        FrozenModelStore.publish(store, v, Seq((0, v.toLong)).toDF("bucket", "w"))
      }
      assert(FrozenModelStore.currentVersion(store).contains(5))
      assert(FrozenModelStore.publishedVersions(store) == Seq(1, 2, 3, 4, 5))

      assert(FrozenModelStore.pruneVersions(store, keep = 2) == Seq(1, 2, 3))
      assert(FrozenModelStore.publishedVersions(store) == Seq(4, 5))
      assert(FrozenModelStore.currentVersion(store).contains(5))
      assert(FrozenModelStore.loadWeights(spark, store, 4).toSeq == Seq(4L))
      assert(FrozenModelStore.pruneVersions(store, keep = 2).isEmpty,
        "second pass is a no-op")

      // crash debris: a tree renamed but not deleted is re-decided —
      // restored when inside the keep horizon, pruned again when not
      Files.move(Paths.get(store, "v4"),
        Paths.get(store, ".v4.retired-deadbeef"))
      assert(FrozenModelStore.pruneVersions(store, keep = 2).isEmpty,
        "healed v4 is inside keep=2 and must survive")
      assert(FrozenModelStore.publishedVersions(store) == Seq(4, 5))
      assert(FrozenModelStore.loadWeights(spark, store, 4).toSeq == Seq(4L))

      // keep = 1: only the current tree survives; current never pruned
      assert(FrozenModelStore.pruneVersions(store, keep = 1) == Seq(4))
      assert(FrozenModelStore.publishedVersions(store) == Seq(5))
      assert(FrozenModelStore.loadWeights(spark, store, 5).toSeq == Seq(5L))
    }
  }
}
