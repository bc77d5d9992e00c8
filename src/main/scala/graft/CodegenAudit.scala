package graft

/**
 * Generated-code size audit over the whole query registry — the check
 * the r12 streaming-codes investigation proved necessary: a
 * whole-stage-codegen method that Janino compiles but that exceeds
 * HotSpot's `DontCompileHugeMethods` ceiling (8 000 bytecodes) runs in
 * the BYTECODE INTERPRETER, ~30× slower, with no warning from Spark at
 * the default `spark.sql.codegen.hugeMethodLimit` (65 535). This main
 * plans every registered query at `SPARK_GRAFT_SF_DIR` and reports each
 * query's largest generated method, flagging any over the JIT ceiling —
 * run it whenever an operator's expression surface grows. (Plan-time
 * only: nothing executes, so the audit is seconds for the whole
 * registry. AQE re-planned stages are not covered — the initial
 * physical plan is what carries the projection/codegen shapes at issue.)
 *
 *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.CodegenAudit"
 */
object CodegenAudit {
  /** HotSpot's `DontCompileHugeMethods` limit: a generated method above
    * this many bytecodes is never JIT-compiled. ONE definition, shared
    * with CodegenSizeSpec so the main and the CI gate cannot drift. */
  val JitCeiling = 8000

  private val sizeRe = "maxMethodCodeSize:(\\d+)".r

  /** Largest generated-method size in a physical plan's codegen output
    * (0 when no codegen subtree reports one — e.g. under an un-executed
    * AQE plan, so sweep with adaptive DISABLED). */
  def maxMethodCodeSize(plan: org.apache.spark.sql.execution.SparkPlan): Int =
    maxMethodCodeSize(org.apache.spark.sql.execution.debug.codegenString(plan))

  /** Same scan over an already-generated codegen dump (codegenString
    * re-runs whole-stage generation — callers that also print from the
    * dump should generate once). */
  def maxMethodCodeSize(codegenDump: String): Int =
    sizeRe.findAllMatchIn(codegenDump).map(_.group(1).toInt)
      .foldLeft(0)(math.max)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = GraftSession.builder(8).getOrCreate()
    // AQE off: an un-executed AdaptiveSparkPlanExec exposes no codegen
    // subtrees to codegenString — the audit needs the full static plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.sparkContext.setLogLevel("WARN")
    // SPARK_GRAFT_CG_DETAIL=<query>: print that query's codegen header
    // lines (per-subtree sizes) for offender diagnosis
    val detail = sys.env.get("SPARK_GRAFT_CG_DETAIL")
    val results = SparkEntry.queries.toSeq.map { case (name, fn) =>
      try {
        val gen = org.apache.spark.sql.execution.debug.codegenString(
          fn(spark, sfDir).queryExecution.executedPlan)
        if (detail.contains(name))
          gen.linesIterator.filter(_.contains("Subtree")).foreach(l =>
            println(s"DETAIL $name: $l"))
        (name, maxMethodCodeSize(gen), None: Option[String])
      } catch { case e: Throwable =>
        (name, -1, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    }
    val over = results.filter(_._2 > JitCeiling).sortBy(-_._2)
    val errs = results.collect { case (n, _, Some(m)) => s""""$n":"${m.take(80)}"""" }
    val worst = results.filter(_._3.isEmpty).sortBy(-_._2).take(10)
      .map { case (n, sz, _) => s""""$n":$sz""" }
    println(s"""{"queries":${results.size},"over_jit_ceiling":${over.size},""" +
      s""""offenders":{${over.map { case (n, sz, _) => s""""$n":$sz""" }.mkString(",")}},""" +
      s""""largest":{${worst.mkString(",")}},"errors":{${errs.mkString(",")}}}""")
    spark.stop()
  }
}
