package graft

import graft.text.{Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Dedup family: exact hash-groupBy, shingling edge cases, MinHash-LSH
  * candidate generation and its recall against exact Jaccard. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  test("exact dedup keeps min doc_id per identical text with group size") {
    val out = Dedup.exact(docsDF(
      1L -> "a b c", 2L -> "a b c", 3L -> "x y z", 7L -> "a b c"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_size")))
      .sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L), (3L, 1L)))
  }

  test("normalizedExact: case/punct/whitespace variants collapse to one group") {
    val out = Dedup.normalizedExact(docsDF(
      1L -> "Hello,   World!", 2L -> "hello world", 3L -> "HELLO world.",
      4L -> "different text"))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_size"),
        r.getAs[Long]("n_variants"))).sortBy(_._1)
    assert(out.toSeq == Seq((1L, 3L, 3L), (4L, 1L, 1L)))
    // byte-identical texts: one variant, group of 2
    val same = Dedup.normalizedExact(docsDF(5L -> "x y", 6L -> "x y")).collect()
    assert(same.length == 1 && same.head.getAs[Long]("group_size") == 2L &&
      same.head.getAs[Long]("n_variants") == 1L)
  }

  test("unicodeExact: canonically equivalent / case-variant multi-script " +
    "docs collapse; distinct non-Latin docs KEEP their identity where " +
    "normalizedExact erases them") {
    // docs 1-2: composed é (U+00E9) vs decomposed e+U+0301 — byte-
    // different, Unicode-equal; doc 3: a case variant of the same text;
    // docs 4-5: two DIFFERENT Cyrillic documents
    val df = docsDF(
      1L -> "Café,  Déjà vu!",
      2L -> "café déjà vu", // decomposed accents
      3L -> "CAFÉ DÉJÀ VU",
      4L -> "Москва столица",
      5L -> "Киев столица")
    val uni = Dedup.unicodeExact(df)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("group_size"),
        r.getAs[Long]("n_variants"))).sortBy(_._1)
    assert(uni.toSeq == Seq((1L, 3L, 3L), (4L, 1L, 1L), (5L, 1L, 1L)),
      s"got ${uni.toSeq}")
    // the failure mode the variant exists for: normalizedForm's
    // [^a-z0-9 ] class erases BOTH Cyrillic docs to the empty string —
    // two different documents read as one dup group
    val ascii = Dedup.normalizedExact(df.filter(col("doc_id") >= 4L))
      .collect()
    assert(ascii.length == 1 && ascii.head.getAs[Long]("group_size") == 2L,
      "expected the ASCII normalizer to (wrongly) collapse the Cyrillic docs")
    // NULL text keeps a NULL fingerprint group (the concat_ws guard):
    // it must not fall into the empty-document group
    val withNull = Dedup.unicodeExact(
      Seq((7L, "!!!"), (8L, null.asInstanceOf[String])).toDF("doc_id", "text"))
      .collect().map(r => (r.getAs[Long]("doc_id"),
        Option(r.getAs[String]("fingerprint")).isDefined))
    assert(withNull.toSet == Set((7L, true), (8L, false)), withNull.toSeq)
  }

  test("duplicateSpanStats: cross-doc spans counted, within-doc repeats are not") {
    val out = Dedup.duplicateSpanStats(docsDF(
      1L -> "a b c d",          // windows: "a b c", "b c d"
      2L -> "a b c x",          // shares "a b c" with doc 1
      3L -> "p q r p q r p q",  // 6 windows, all repeated WITHIN the doc only
      4L -> "a b"), k = 3)      // too short: no complete window, no row
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_windows"), r.getAs[Long]("n_dup_windows"),
          r.getAs[Double]("dup_fraction")))).toMap
    assert(out.keySet == Set(1L, 2L, 3L))
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((2L, 1L, 0.5)))
    assert(out(3L) == ((6L, 0L, 0.0)))
  }

  test("boilerplateSpans: most-shared span ranks first; within-doc-only spans excluded") {
    // "a b c" in docs 1,2,3; "b c d" in docs 1,2; doc 4 repeats its own span
    val out = Dedup.boilerplateSpans(docsDF(
      1L -> "a b c d",
      2L -> "a b c d",
      3L -> "z a b c",
      4L -> "p q r p q r p q"), k = 3)
      .collect().map(r => (r.getAs[Long]("n_docs"), r.getAs[Long]("n_occurrences"),
        r.getAs[Long]("example_doc")))
    assert(out.length == 2)
    assert(out(0) == ((3L, 3L, 1L)))  // "a b c": docs 1,2,3
    assert(out(1) == ((2L, 2L, 1L)))  // "b c d": docs 1,2
  }

  test("stripBoilerplate: covered tokens removed, kept text digest exact, " +
    "fully-stripped and untouched docs both survive") {
    val out = Dedup.stripBoilerplate(docsDF(
      1L -> "a b c d",   // "a b c" shared with docs 2,3 → tokens 0-2 covered
      2L -> "x a b c",   // tokens 1-3 covered
      3L -> "a b c",     // the whole doc is the shared span → stripped empty
      4L -> "p q r s"),  // no shared span → untouched
      k = 3).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_kept"),
          r.getAs[Double]("removed_frac"), r.getAs[String]("clean_digest"))))
      .toMap
    def d(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes).map("%02x".format(_)).mkString
    assert(out(1L) == ((4L, 1L, 0.75, d("d"))))
    assert(out(2L) == ((4L, 1L, 0.75, d("x"))))
    assert(out(3L) == ((3L, 0L, 1.0, d(""))))
    assert(out(4L) == ((4L, 4L, 0.0, d("p q r s"))))
  }

  test("span/normalized operators tolerate empty and all-short corpora") {
    val empty = docsDF()
    assert(Dedup.normalizedExact(empty).count() == 0)
    assert(Dedup.duplicateSpanStats(empty).count() == 0)
    assert(Dedup.boilerplateSpans(empty).count() == 0)
    // every doc shorter than the window: no rows, no crash
    val short = docsDF(1L -> "a b", 2L -> "c")
    assert(Dedup.duplicateSpanStats(short, k = 3).count() == 0)
    assert(Dedup.boilerplateSpans(short, k = 3).count() == 0)
  }

  test("clusterSizeHistogram: clusters binned by size with doc counts") {
    val pairs = Seq((1L, 2L), (3L, 4L), (4L, 5L)).toDF("doc_a", "doc_b")
    val hist = Dedup.clusterSizeHistogram(Dedup.clusters(pairs))
      .collect().map(r => r.getAs[Long]("cluster_size") ->
        ((r.getAs[Long]("n_clusters"), r.getAs[Long]("n_docs")))).toMap
    assert(hist == Map(2L -> ((1L, 2L)), 3L -> ((1L, 3L))))
  }

  test("shingles: n tokens yield size-n+1 shingles; short docs yield none") {
    val df = docsDF(1L -> "a b c d", 2L -> "a b").select(
      col("doc_id"), TextOps.shingles(TextOps.tokens(col("text")), 3).as("sh"))
    val m = df.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[scala.collection.Seq[String]]("sh")).toMap
    assert(m(1L) == Seq("a b c", "b c d"))
    assert(m(2L).isEmpty)
  }

  test("ngramNovelty: corpus-unique shingles counted per doc; short docs excluded") {
    // doc 1 and 2 share "a b c"; doc 1's "b c d" is unique; doc 3 is
    // all-unique; doc 4 is too short to shingle (no output row)
    val out = Dedup.ngramNovelty(Dedup.shingleArrays(docsDF(
      1L -> "a b c d", 2L -> "a b c", 3L -> "x y z", 4L -> "p q"), n = 3))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_shingles"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novelty")))
      .sortBy(_._1)
    assert(out.toSeq == Seq(
      (1L, 2L, 1L, 0.5), (2L, 1L, 0L, 0.0), (3L, 1L, 1L, 1.0)))
  }

  test("identical docs always collide in LSH (jaccard 1.0)") {
    val out = Dedup.nearDupMinhashLsh(docsDF(
      1L -> "one two three four five six",
      2L -> "one two three four five six",
      3L -> "totally different words here now yes")).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("doc_a") == 1L && r.getAs[Long]("doc_b") == 2L)
    assert(r.getAs[Double]("jaccard") == 1.0)
  }

  test("bloomDedupAudit: no false negatives; verdicts match a Scala bloom") {
    def hex8(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    def md5hex(s: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val corpus = Seq(1L -> "a b c", 2L -> "d e f", 3L -> "g h i",
      4L -> "j k l", 5L -> "m n o")
    // incoming: 10 = exact dup of 1; the rest new (11 collides or not
    // per the hash — the Scala re-derivation decides, not a guess)
    val incoming = Seq(10L -> "a b c", 11L -> "p q r", 12L -> "s t u")
    val mBits = 64 // tiny filter so false positives are plausible
    val kH = 3
    def posSet(texts: Seq[String]): Set[Long] =
      texts.flatMap(t => (0 until kH).map(i =>
        hex8(s"$i:${md5hex(t)}") % mBits)).toSet
    val bits = posSet(corpus.map(_._2))
    val want = incoming.map { case (id, t) =>
      (id, (0 until kH).forall(i => bits(hex8(s"$i:${md5hex(t)}") % mBits)),
        corpus.map(_._2).contains(t))
    }.toSet
    val df = (corpus ++ incoming).toDF("doc_id", "text")
    val got = Dedup.bloomDedupAudit(df, col("doc_id") >= 10L,
      kHashes = kH, mBits = mBits).collect()
      .map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2))).toSet
    assert(got == want, s"got $got want $want")
    // the bloom guarantee: every exact dup is a bloom hit
    assert(got.forall { case (_, hit, dup) => !dup || hit })
    assert(got.exists { case (_, hit, dup) => hit && dup }, "doc 10 must hit")
  }

  test("crossSourceLeakage: unordered source-pair rollup with exact micro-mass") {
    // pairs: (1,2) across srcB/srcA → (srcA,srcB); (3,4) within srcA
    // (diagonal); (5,6) across srcA/srcB again — accumulates with (1,2)
    val pairs = Seq(
      (1L, 2L, 0.51), (3L, 4L, 1.0), (5L, 6L, 0.666667))
      .toDF("doc_a", "doc_b", "jaccard")
    val docs = Seq(
      (1L, "srcB"), (2L, "srcA"), (3L, "srcA"), (4L, "srcA"),
      (5L, "srcA"), (6L, "srcB"))
      .toDF("doc_id", "source")
    val out = Dedup.crossSourceLeakage(pairs, docs).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(p => (p._1, p._2))
    assert(out.toSeq == Seq(
      ("srcA", "srcA", 1L, 1000000L),
      ("srcA", "srcB", 2L, 510000L + 666667L)))
  }

  test("candidate pairs are verified: low-jaccard collisions are filtered") {
    // even if a band collided by chance, threshold 0.9 must drop this pair
    val out = Dedup.nearDupMinhashLsh(docsDF(
      1L -> "a b c d e f g h",
      2L -> "a b c x y z w q"), threshold = 0.9).collect()
    assert(out.isEmpty)
  }

  test("incremental: exact beats near, best near match by (jaccard, id), else new") {
    // batch = doc_id % 10 == 0; corpus = the rest
    val corpus = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val out = Dedup.incremental(docsDF(
      // corpus
      1L -> corpus,                       // exact twin of 10 (and near of 20)
      2L -> corpus,                       // same text — exact match keeps MIN id
      3L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz", // near twin of 20
      4L -> "p q r s t u v x y z",        // unrelated
      // batch
      10L -> corpus,                      // exact dup (match 1, not 2)
      20L -> "w1 w2 w3 w4 w5 w6 w7 w8 w9 zz", // exact dup of 3
      30L -> "w1 w2 w3 w4 w5 w6 w7 w8 qq rr", // near dup only
      40L -> "completely novel content never seen anywhere at all"),
      isNew = col("doc_id") % 10 === 0)
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
          Option(r.get(3)).map(_.asInstanceOf[Double]))).toMap
    assert(out(10L)._1 == "exact" && out(10L)._2 == Some(1L) && out(10L)._3.isEmpty)
    assert(out(20L)._1 == "exact" && out(20L)._2 == Some(3L))
    // 30 verifies at jaccard 0.6 against corpus docs 1, 2 AND 3 (six
    // common shingles of 8 each, deterministic): equal jaccard, so the
    // (jaccard desc, doc_id asc) tiebreak must pick 1
    assert(out(30L)._1 == "near" && out(30L)._2 == Some(1L))
    assert(out(30L)._3 == Some(0.6))
    assert(out(40L) == (("new", None, None)))
  }

  test("containmentPairs: full quote scores 1.0 where jaccard would miss it") {
    // A's 3 shingles all appear in B (9 shingles): containment 1.0 but
    // jaccard 3/9 ≈ 0.33 — invisible to the jaccard operators at 0.5
    val df = docsDF(
      1L -> "q1 q2 q3 q4 q5",
      2L -> "w1 w2 w3 q1 q2 q3 q4 q5 w4 w5 w6",
      3L -> "z1 z2 z3 z4 z5")
    val out = Dedup.containmentPairs(df).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(2) == 1.0) // containment_a_in_b
    assert(r.getDouble(3) == math.rint(3.0 / 9 * 1e6) / 1e6)
    assert(Dedup.jaccardPairsExact(df).collect().isEmpty,
      "fixture must be a jaccard-invisible containment case")
  }

  test("containmentPairs: below-threshold overlap is dropped; df cap prunes boilerplate") {
    // docs 1/2 share 2 of 4+4 shingles: max containment 0.5 < 0.8
    val low = Dedup.containmentPairs(docsDF(
      1L -> "a b c d e f",
      2L -> "a b c x y z")).collect()
    assert(low.isEmpty)
    // with the cap at 1, the shared shingle (df 2) is a stop-shingle:
    // a fully-contained pair is missed — exactly the documented trade
    val capped = Dedup.containmentPairs(docsDF(
      1L -> "q1 q2 q3 q4 q5",
      2L -> "w1 w2 w3 q1 q2 q3 q4 q5 w4 w5 w6"), maxShingleDf = 1).collect()
    assert(capped.isEmpty)
  }

  test("decontaminate flags exactly the train docs sharing an n-gram with the benchmark") {
    // doc 0 is the benchmark; doc 1 copies a 5-token run from it, doc 2
    // shares only shorter runs, doc 3 is disjoint
    val out = Dedup.decontaminate(docsDF(
      0L -> "alpha beta gamma delta epsilon zeta",
      1L -> "x alpha beta gamma delta epsilon y",
      2L -> "alpha beta gamma q delta epsilon zeta w",
      3L -> "one two three four five six"),
      isBenchmark = col("doc_id") === 0L).collect()
    assert(out.length == 1)
    assert(out.head.getAs[Long]("doc_id") == 1L)
    // "alpha beta gamma delta epsilon" is the one shared 5-gram
    assert(out.head.getAs[Long]("n_shared") == 1L)
    assert(out.head.getAs[Long]("contaminant_id") == 0L)
  }

  test("maxShingleDf prunes pairs linked only by a stop-shingle; survivors stay exact") {
    // "lorem ipsum dolor" appears in all four docs (df=4); docs 1/2 are
    // true near-dups sharing rare shingles too, docs 3/4 share ONLY the
    // boilerplate shingle
    val docs = docsDF(
      1L -> "lorem ipsum dolor alpha beta gamma delta",
      2L -> "lorem ipsum dolor alpha beta gamma zeta",
      3L -> "lorem ipsum dolor one two three",
      4L -> "other words lorem ipsum dolor nine ten")
    val unpruned = Dedup.jaccardPairsExact(docs, threshold = 0.1)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val pruned = Dedup.jaccardPairsExact(docs, threshold = 0.1, maxShingleDf = Some(3))
    val prunedPairs = pruned.collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(unpruned.contains((3L, 4L)))
    assert(!prunedPairs.contains((3L, 4L)), "stop-shingle-only pair must be pruned")
    assert(prunedPairs.contains((1L, 2L)))
    // surviving pair's jaccard is computed from the FULL sets (5 shingles
    // each, 4 shared incl. the stop-shingle: 4/6)
    val j = pruned.collect().find(r => r.getAs[Long]("doc_a") == 1L).get
      .getAs[Double]("jaccard")
    assert(math.abs(j - 4.0 / 6.0) < 1e-6, s"got $j")
  }

  test("clusters(star): transitive pairs collapse to min-label components") {
    // chain 5-3-8 (via two pairs) plus isolated pair (10, 12): two
    // components, labels = min member, canonical = the min member
    val pairs = Seq((3L, 5L), (3L, 8L), (10L, 12L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => (r.getAs[Long]("doc_id"),
        (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size"),
          r.getAs[Boolean]("is_canonical")))).toMap
    assert(out.keySet == Set(3L, 5L, 8L, 10L, 12L))
    assert(out(3L) == ((3L, 3L, true)))
    assert(out(5L) == ((3L, 3L, false)))
    assert(out(8L) == ((3L, 3L, false)))
    assert(out(10L) == ((10L, 2L, true)))
    assert(out(12L) == ((10L, 2L, false)))
  }

  test("clusters(star): a long chain converges to one component") {
    // path graph 1-2-3-...-9 given as consecutive pairs: diameter 8
    val pairs = (1L until 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect()
    assert(out.length == 9)
    assert(out.forall(_.getAs[Long]("cluster_id") == 1L))
    assert(out.forall(_.getAs[Long]("cluster_size") == 9L))
    assert(out.count(_.getAs[Boolean]("is_canonical")) == 1)
  }

  test("star contraction resolves a 200-node chain in O(log n) rounds") {
    // path graph 0-1-...-200: diameter 200, so min-label propagation
    // needs ~100+ rounds; alternating large/small star must stay
    // logarithmic (Kiveris et al. bound ~3·log n; log2(200) ≈ 7.6)
    val n = 200L
    val canonical = (0L until n).map(i => (i + 1, i)).toDF("a", "b")
    val (star, rounds) = Dedup.starContraction(canonical)
    assert(rounds <= 15, s"star contraction took $rounds rounds on a $n-chain")
    // converged star: every node 1..n points directly at 0
    val got = star.collect().map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")))
    assert(got.length == n)
    assert(got.forall(_._2 == 0L))
  }

  test("clusters matches a union-find reference on seeded random graphs") {
    def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElse(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // normalize every member to its component MINIMUM
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val byRoot = nodes.groupBy(find)
      byRoot.valuesIterator.flatMap(ms => ms.map(_ -> ms.min)).toMap
    }
    for (seed <- Seq(7, 42, 1234)) {
      val rnd = new scala.util.Random(seed)
      val pairs = Seq.fill(40)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct
      val got = Dedup.clusters(pairs.toDF("doc_a", "doc_b"))
        .collect()
        .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
      assert(got == unionFind(pairs), s"seed $seed mismatch")
    }
  }

  test("clusters: empty pair input yields an empty frame with the output schema") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val out = Dedup.clusters(empty)
    assert(out.columns.toSeq ==
      Seq("doc_id", "cluster_id", "cluster_size", "is_canonical"))
    assert(out.count() == 0)
  }

  test("curate_corpus is exactly the set algebra of its verified stages") {
    // guards the JOIN GLUE (semi/anti shapes, no fan-out, benchmark
    // exclusion) — each stage's own values are oracle-checked separately
    import graft.queries.DataPipelineQueries
    val sf = "/root/testdata/sf0.001"
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val want =
      (ids(graft.text.TextAnalysis.qualityGate(d).filter(col("keep"))) &
        ids(Dedup.exact(d))) --
        ids(DedupSpec.contaminated(spark, sf)) --
        ids(DedupSpec.nonCanonical(spark, sf)) --
        d.filter(col("doc_id") % 43 === 0).collect().map(_.getAs[Long]("doc_id"))
    val got = ids(DataPipelineQueries.curateCorpus(spark, sf))
    assert(got == want, s"only-got=${got -- want}, only-want=${want -- got}")
    // no duplicate rows from the id joins
    assert(DataPipelineQueries.curateCorpus(spark, sf).count() == got.size)
  }

  test("LSH recall on sf0.001 documents: finds every exact pair >= 0.5") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))
    val exact = Dedup.jaccardPairsExact(docs).collect().map(key).toSet
    val lsh = Dedup.nearDupMinhashLsh(docs).collect().map(key).toSet
    // LSH output is verified-by-exact-jaccard, so it can only be a subset;
    // at jaccard >= 0.5 with 4 bands of 2 the collision probability per
    // pair is >= 1-(1-0.25)^4 ≈ 0.68 per band-row estimate — on this
    // corpus (near-dups at j >= 0.9) it must find all of them.
    assert(lsh.subsetOf(exact))
    assert(lsh == exact, s"missed pairs: ${exact -- lsh}")
  }

  test("lshBucketStats: occupancy, pair mass and cap counts per band") {
    import spark.implicits._
    // 3 identical docs bucket together in every band; 1 distinct doc is
    // alone → per band: buckets {3, 1}, pair mass 3·2/2 = 3
    val docs = Seq(
      (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "alpha beta gamma delta"), (9L, "one two three four"))
      .toDF("doc_id", "text")
    val sig = Dedup.minhashSignature(Dedup.shingleArrays(docs, 3), k = 8)
    val rows = Dedup.lshBucketStats(sig, bands = 4, rowsPerBand = 2,
      maxBucketSize = 2).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_buckets") == 2)
      assert(r.getAs[Long]("n_rows") == 4)
      assert(r.getAs[Long]("max_bucket") == 3)
      assert(r.getAs[Long]("candidate_pairs") == 3)
      assert(r.getAs[Long]("n_capped") == 1) // the 3-bucket exceeds cap 2
    }
  }

  test("lshRecallAudit: counts and rates on hand-built pair sets") {
    import spark.implicits._
    // exact = {(1,2),(3,4),(5,6)}; lsh = {(1,2),(3,4),(7,8)} →
    // common 2, recall 2/3, precision 2/3
    val exact = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val lsh = Seq((1L, 2L), (3L, 4L), (7L, 8L)).toDF("doc_a", "doc_b")
    val r = Dedup.lshRecallAudit(lsh, exact).collect()(0)
    assert(r.getAs[Long]("n_exact_pairs") == 3)
    assert(r.getAs[Long]("n_lsh_pairs") == 3)
    assert(r.getAs[Long]("n_common") == 2)
    assert(r.getAs[Double]("recall") == 0.666667)
    assert(r.getAs[Double]("precision") == 0.666667)
    // empty inputs: zero counts, null rates — no division crash
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val e = Dedup.lshRecallAudit(empty, empty).collect()(0)
    assert(e.getAs[Long]("n_exact_pairs") == 0 && e.isNullAt(3) && e.isNullAt(4))
  }
}

object DedupSpec {
  import graft.queries.DataPipelineQueries
  import org.apache.spark.sql.{DataFrame, SparkSession}

  def contaminated(spark: SparkSession, sf: String): DataFrame =
    DataPipelineQueries.dedupDecontaminate(spark, sf)

  def nonCanonical(spark: SparkSession, sf: String): DataFrame =
    DataPipelineQueries.dedupClusters(spark, sf)
      .filter(!org.apache.spark.sql.functions.col("is_canonical"))
}
