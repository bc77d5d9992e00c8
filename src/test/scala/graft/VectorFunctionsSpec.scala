package graft

import graft.functions.VectorFunctions.dotp
import org.apache.spark.sql.functions._

/** The codegen'd DotProduct expression: agreement with the interpreted
  * higher-order-function fold it replaced (bit-equality matters — the
  * DuckDB oracles replicate the fold's accumulation order), null
  * propagation, and length handling. */
class VectorFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def foldDot = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("dotp is bit-equal to the aggregate(zip_with) fold on random vectors") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(100)(
      (Seq.fill(64)(rnd.nextGaussian()), Seq.fill(64)(rnd.nextGaussian())))
    val out = rows.toDF("a", "b")
      .select(dotp(col("a"), col("b")).as("d"), foldDot(col("a"), col("b")).as("f"))
      .collect()
    out.foreach { r =>
      // bit-equality, not tolerance: identical accumulation order
      assert(java.lang.Double.doubleToLongBits(r.getAs[Double]("d")) ==
        java.lang.Double.doubleToLongBits(r.getAs[Double]("f")))
    }
  }

  test("dotp: null input → null; empty arrays → 0.0") {
    val out = Seq(
      (Some(Seq(1.0, 2.0)), None: Option[Seq[Double]]),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double])))
      .toDF("a", "b")
      .select(dotp(col("a"), col("b")).as("d"))
      .collect()
    assert(out(0).isNullAt(0))
    assert(out(1).getAs[Double]("d") == 0.0)
  }

  test("dotp accumulates over the shorter prefix on length mismatch") {
    val out = Seq((Seq(1.0, 2.0, 3.0), Seq(10.0, 20.0)))
      .toDF("a", "b").select(dotp(col("a"), col("b")).as("d")).collect()
    assert(out(0).getAs[Double]("d") == 50.0)
  }

  test("null ELEMENT yields null, matching the fold's poisoned sum") {
    val out = Seq((Seq[java.lang.Double](1.0, null, 3.0), Seq[java.lang.Double](1.0, 1.0, 1.0)))
      .toDF("a", "b")
      .select(dotp(col("a"), col("b")).as("d"), foldDot(col("a"), col("b")).as("f"))
      .collect()
    assert(out(0).isNullAt(0) && out(0).isNullAt(1))
  }

  test("graft_dot / graft_hamming / graft_l2mu are callable from SQL once registered") {
    org.apache.spark.sql.graftshim.GraftFunctionRegistry.register(spark)
    val r = spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
      .head().getDouble(0)
    assert(r == 11.0)
    assert(spark.sql("SELECT graft_hamming('0101', '0011') AS h")
      .head().getInt(0) == 2)
    assert(spark.sql(
      "SELECT graft_l2mu(array(3.0D, 0.0D), array(1.0D, 2.0D)) AS m")
      .head().getLong(0) == 8000000L)
    assert(spark.sql(
      "SELECT graft_subdist2(array(9.0D, 1.0D, 2.0D), array(0.0D, 0.0D), 1) AS s")
      .head().getDouble(0) == 5.0)
  }

  test("l2mu matches the interpreted µ-rounded fold; null element → null") {
    import graft.functions.VectorFunctions.l2mu
    val foldMu = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      aggregate(zip_with(a, b, (x, y) =>
        round((x - y) * (x - y) * lit(1e6)).cast("long")),
        lit(0L), (acc, x) => acc + x)
    val rnd = new scala.util.Random(11)
    val rows = Seq.fill(100)(
      (Seq.fill(64)(rnd.nextGaussian()), Seq.fill(64)(rnd.nextGaussian())))
    val out = rows.toDF("a", "b")
      .select(l2mu(col("a"), col("b")).as("m"), foldMu(col("a"), col("b")).as("f"))
      .collect()
    out.foreach(r => assert(r.getAs[Long]("m") == r.getAs[Long]("f")))
    // exact small case: (3-1)² + (0-2)² = 8 → 8_000_000 µ
    val small = Seq((Seq(3.0, 0.0), Seq(1.0, 2.0))).toDF("a", "b")
      .select(l2mu(col("a"), col("b"))).head().getLong(0)
    assert(small == 8000000L)
    // null element poisons to null; interpreted path agrees
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.MicroSquaredDistance
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val arr = ArrayType(DoubleType)
    assert(MicroSquaredDistance(
      Literal.create(Seq(3.0, 0.0), arr),
      Literal.create(Seq(1.0, 2.0), arr)).eval(InternalRow.empty) == 8000000L)
    assert(MicroSquaredDistance(
      Literal.create(Seq[java.lang.Double](1.0, null), arr),
      Literal.create(Seq(3.0, 4.0), arr)).eval(InternalRow.empty) == null)
  }

  test("subdist2: subvector distance bit-equal to the unrolled chain") {
    import graft.functions.VectorFunctions.subdist2
    val rnd = new scala.util.Random(13)
    val rows = Seq.fill(50)((Seq.fill(64)(rnd.nextGaussian()), Seq.fill(16)(rnd.nextGaussian())))
    for (off <- Seq(0, 16, 48)) {
      val out = rows.toDF("v", "c")
        .select(subdist2(col("v"), col("c"), lit(off)).as("d"),
          aggregate(zip_with(slice(col("v"), off + 1, 16), col("c"),
            (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x).as("f"))
        .collect()
      out.foreach(r => assert(
        java.lang.Double.doubleToLongBits(r.getAs[Double]("d")) ==
          java.lang.Double.doubleToLongBits(r.getAs[Double]("f")), s"offset $off"))
    }
    // out-of-range offset → null (both eval paths)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.SubvectorDist2
    import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}
    val arr = ArrayType(DoubleType)
    assert(SubvectorDist2(Literal.create(Seq(1.0, 2.0), arr),
      Literal.create(Seq(1.0, 1.0), arr),
      Literal.create(1, IntegerType)).eval(InternalRow.empty) == null)
    assert(SubvectorDist2(Literal.create(Seq(1.0, 2.0), arr),
      Literal.create(Seq(0.0, 0.0), arr),
      Literal.create(0, IntegerType)).eval(InternalRow.empty) == 5.0)
    val oob = rows.take(1).toDF("v", "c")
      .select(subdist2(col("v"), col("c"), lit(60)).as("d")).head()
    assert(oob.isNullAt(0))
  }

  test("dotp survives both codegen and interpreted evaluation paths") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftshim.DotProduct
    // whole-stage codegen path (projection over a DataFrame)
    val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
    assert(df.select(dotp(col("a"), col("b"))).head().getDouble(0) == 11.0)
    // interpreted path: direct expression eval (the codegen-failure
    // fallback) — a DataFrame filter would still compile to codegen
    import org.apache.spark.sql.types.{ArrayType, DoubleType}
    val arr = ArrayType(DoubleType)
    val expr = DotProduct(
      Literal.create(Seq(1.0, 2.0), arr), Literal.create(Seq(3.0, 4.0), arr))
    assert(expr.eval(InternalRow.empty) == 11.0)
    val withNullElem = DotProduct(
      Literal.create(Seq[java.lang.Double](1.0, null), arr),
      Literal.create(Seq(3.0, 4.0), arr))
    assert(withNullElem.eval(InternalRow.empty) == null)
  }

  test("IvfNearestCell: a zero-norm vector's NaN scores rank greatest " +
    "with the smallest-cid tie — the array_max struct rule, never a " +
    "sentinel cell id") {
    import graft.similarity.Similarity
    // vec 0 is the zero vector; centroids are hash-sampled corpus rows
    val rows = (0L until 40L).map { i =>
      val v = if (i == 0L) Array.fill(8)(0f)
              else Array.tabulate(8)(d => (((i * 7 + d) % 13) - 6).toFloat)
      (i, v, 0)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val asg = Similarity.ivfCellAssignments(df, nCells = 4)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cellIds = asg.values.toSet
    // the zero vector lands in the SMALLEST centroid id, deterministically
    assert(asg(0L) == cellIds.min,
      s"zero vector in cell ${asg(0L)}, centroids $cellIds")
  }

  test("IvfNearestCell: all-(-Inf) scores (negative dot over an " +
    "underflowed-to-zero denominator) seed and tie to the smallest cid " +
    "— never the phantom Long.MaxValue") {
    // drive the expression directly with nrm = 0 so every score is
    // s/(0·cnrm): a NEGATIVE dot gives −Inf for every centroid — with
    // the old strict `raw > best − 1e-6` guard nothing ever seeded
    // (−Inf > −Inf is false) and Long.MaxValue escaped (ADVICE r12)
    val packed = Seq( // row = [cid, cnrm, coords…]; NOT in cid order
      Seq(7.0, 1.0, 1.0, 1.0),
      Seq(3.0, 1.0, 2.0, 2.0),
      Seq(9.0, 1.0, 3.0, 3.0))
    val out = Seq((Seq(-1.0, -1.0), 0.0)).toDF("v", "nrm")
      .select(graft.functions.VectorFunctions.ivfNearestCell(
        col("v"), col("nrm"), typedLit(packed)).as("cell")).head()
    assert(!out.isNullAt(0) && out.getLong(0) == 3L,
      s"all-(-Inf) argmax returned ${out.get(0)}, want smallest cid 3")
    // a POSITIVE dot over the zero denominator is +Inf everywhere:
    // same smallest-cid tie
    val pos = Seq((Seq(1.0, 1.0), 0.0)).toDF("v", "nrm")
      .select(graft.functions.VectorFunctions.ivfNearestCell(
        col("v"), col("nrm"), typedLit(packed)).as("cell")).head()
    assert(pos.getLong(0) == 3L, s"all-(+Inf) tie returned ${pos.get(0)}")
  }

  test("ShingleSetHit: codegen and interpreted eval agree (nulls, CJK)") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.graftshim.ShingleSetHit
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val u = UTF8String.fromString _
    val set = new java.util.HashSet[UTF8String]()
    Seq("needle in the hay stack", "東京 大阪 京都 奈良 神戸").foreach(t => set.add(u(t)))
    val hit = ShingleSetHit(BoundReference(0, ArrayType(StringType), nullable = true),
      spark.sparkContext.broadcast(set))
    // strict codegen: GenerateMutableProjection throws on a compile
    // failure instead of falling back to interpreted eval
    val generated = GenerateMutableProjection.generate(Seq(hit))
    def arr(xs: String*) = new GenericArrayData(xs.map(x => if (x == null) null else u(x)))
    val cases = Seq[(Any, Any)](
      arr("a b c d e", "needle in the hay stack") -> true,
      arr("東京 大阪 京都 奈良 神戸") -> true,
      arr("東京 大阪 京都 奈良 横浜", "needle in the hay") -> false,
      arr(null, "東京 大阪 京都 奈良 神戸") -> true,
      arr(null) -> false,
      arr() -> false,
      (null, null))
    cases.foreach { case (in, want) =>
      val row = InternalRow(in)
      val interpreted = hit.eval(row)
      val out = generated(row)
      val codegen = if (out.isNullAt(0)) null else out.getBoolean(0)
      assert(interpreted == want && codegen == want, s"$in: " +
        s"interpreted=$interpreted codegen=$codegen want=$want")
    }
    assert(hit.toString.endsWith("2 shingles)"), hit.toString)
  }

  test("PqNearestCode: an all-NaN vector quantizes to code 0 with NaN " +
    "error (the struct-min NaN-is-greatest rule), and roundHalfUp " +
    "passes NaN/Infinity through like Spark's round") {
    import org.apache.spark.sql.graftshim.PqExpressions
    assert(PqExpressions.roundHalfUp(Double.NaN, 6).isNaN)
    assert(PqExpressions.roundHalfUp(Double.PositiveInfinity, 6).isInfinite)
    import graft.similarity.Similarity
    val cfg = Similarity.PqConfig(m = 2, k = 2, dim = 4, rounds = 0)
    val df = Seq(
      (0L, Array(1f, 2f, 3f, 4f), 0),
      (1L, Array(2f, 1f, 4f, 3f), 0),
      (2L, Array(Float.NaN, Float.NaN, Float.NaN, Float.NaN), 0),
      (3L, Array(Float.PositiveInfinity, 0f, 0f, 0f), 0))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.productQuantize(df, cfg).collect()
      .map(r => r.getLong(0) ->
        ((r.getAs[Int]("code0"), r.getAs[Int]("code1"),
          r.getAs[Double]("recon_error")))).toMap
    assert(out(2L)._1 == 0 && out(2L)._2 == 0, s"NaN row codes ${out(2L)}")
    assert(out(2L)._3.isNaN, "NaN row recon_error must stay NaN")
    assert(!out(0L)._3.isNaN && !out(1L)._3.isNaN)
    // an Inf coordinate: distance to a FINITE codeword is +Inf, to a
    // codeword containing Inf at the same dim it is NaN (Inf − Inf) —
    // the struct-min ranks Inf below NaN, so the finite codeword wins
    // and recon_error is Infinity, never the NaN fallback. Derive the
    // expected ordinal from the operator's own sampling contract.
    val cb = df
      .select(col("vec_id"), transform(col("embedding"), _.cast("double")).as("v"),
        md5(concat(lit("pq:"), col("vec_id").cast("string"))).as("ck"))
      .orderBy(col("ck"), col("vec_id"))
      .limit(cfg.k)
      .collect().map(_.getSeq[Double](1))
    val expectInf = cb.indexWhere(row => !row(0).isInfinity && !row(0).isNaN)
    assert(out(3L)._1 == expectInf,
      s"Inf-subspace code ${out(3L)._1} != finite codeword ordinal $expectInf")
    assert(out(3L)._3.isInfinity, s"Inf row recon_error ${out(3L)._3}")
  }

  test("signBuckets: a short vector pads '0' bits; the sign-LSH callers' " +
    "coalesce makes a NULL embedding the legacy all-'0' buckets") {
    val df = Seq(
      (1L, Some(Seq(1.0, -1.0))),
      (2L, None: Option[Seq[Double]]))
      .toDF("id", "v")
    val out = df.select(col("id"),
        graft.functions.VectorFunctions.signBuckets(
          coalesce(col("v"), typedLit(Seq.empty[Double])),
          lit(4), lit(2)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(out(1L) == Seq("1000", "0000"), out(1L).toString)
    assert(out(2L) == Seq("0000", "0000"), out(2L).toString)
  }
}
