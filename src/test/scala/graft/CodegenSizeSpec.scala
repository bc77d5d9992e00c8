package graft

import graft.queries.SharedFrames

/**
 * Registry-wide generated-code size gate — the spec form of
 * [[CodegenAudit]]: every registered query's largest whole-stage-codegen
 * method must stay under HotSpot's `DontCompileHugeMethods` ceiling
 * (8 000 bytecodes). Above it the method still COMPILES (Janino is
 * happy, Spark raises nothing at the default hugeMethodLimit) but the
 * JVM refuses to JIT it and the whole scan runs in the bytecode
 * interpreter — the ~30× silent cliff the r12 streaming-codes
 * investigation uncovered on three registered queries. AQE is disabled
 * for the sweep (an un-executed adaptive plan exposes no codegen
 * subtrees); nothing executes, so the sweep is planning-cost only. The
 * strict-codegen sweep beside it does execute: it catches generated
 * code that fails to compile, which the size sweep cannot see.
 */
class CodegenSizeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("no registered query's generated method exceeds the HotSpot JIT " +
    "ceiling (8000 bytecodes — beyond it the code runs interpreted)") {
    // ONE shared sweep definition (CodegenAudit.maxMethodCodeSize +
    // JitCeiling) — the main and this CI gate cannot drift
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
        val max = CodegenAudit.maxMethodCodeSize(
          fn(spark, sfDir).queryExecution.executedPlan)
        if (max > CodegenAudit.JitCeiling) Some(name -> max) else None
      }
      assert(offenders.isEmpty,
        s"queries whose generated code cannot be JIT-compiled: $offenders")
    }
  }

  test("ANN assignment codegen stays JIT-compilable at the width-policy " +
    "CAP (4096 cells) — the packed-centroid design is width-invariant " +
    "at the widest rung scaledCells can choose") {
    import graft.similarity.Similarity
    import org.apache.spark.sql.functions.col
    withSQLConf("spark.sql.adaptive.enabled" -> "false") {
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      val cells = Array.tabulate(4096) { i =>
        val v = Seq.tabulate(64)(j => ((i * 31 + j * 7) % 997) / 997.0 - 0.5)
        (i.toLong, v, math.sqrt(v.map(x => x * x).sum))
      }
      val asg = Similarity.ivfCellAssignmentsWith(emb, cells)
      val max = CodegenAudit.maxMethodCodeSize(
        asg.queryExecution.executedPlan)
      assert(max > 0, "expected a codegen subtree to measure")
      assert(max <= CodegenAudit.JitCeiling,
        s"4096-cell assignment generated $max bytecodes (> ceiling)")
    }
  }

  test("every registered query compiles its generated code and computes " +
    "every column with codegen fallback disabled") {
    // a noop write evaluates every output column (a count() would let
    // Catalyst prune the projections away); with fallback off, a
    // generated class Janino cannot compile fails its query instead of
    // silently dropping the stage to interpreted eval — what a missing
    // static forwarder (a companion `apply` clashing with
    // TreeNode.apply(int)) does. Memos built earlier under fallback
    // would serve cached data and skip the code under test.
    def coldCaches(): Unit = {
      SharedFrames.clear(spark)
      spark.catalog.clearCache()
    }
    coldCaches()
    try withSQLConf("spark.sql.codegen.fallback" -> "false") {
      val failed = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Exception =>
          val root = Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).toSeq.last
          Some(s"$name: ${root.toString.take(200)}")
        }
      }
      assert(failed.isEmpty,
        s"queries failing under strict codegen:\n${failed.mkString("\n")}")
    } finally coldCaches()
  }

  private def withSQLConf[T](pairs: (String, String)*)(f: => T): T = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f
    finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
