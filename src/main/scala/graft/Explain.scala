package graft

/** Plan audit: prints the formatted physical plan of every registered
  * query at the given sf dir. Used to verify scan pruning/pushdown, join
  * strategies, and whole-stage-codegen coverage while iterating on
  * operators. Expected join shapes: equi-keyed SMJ/ShuffledHash/Broadcast
  * everywhere EXCEPT two intentional tiny-broadcast BNLJs — the
  * brute-force top-k baseline (corpus × broadcast query set, nQueries
  * rows) and the IVF probe selection (query set × broadcast centroids,
  * nCells rows); both broadcast sides are bounded by construction, so
  * the scan side streams linearly at any corpus size.
  *
  * Usage: sbt "runMain graft.Explain /root/testdata/sf0.01 [queryName]" */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val only = args.lift(1)
    val spark = GraftSession.builder(GraftSession.cpus(4)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_ == name) }
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[explain failed] $e") }
      }
    spark.stop()
  }
}
