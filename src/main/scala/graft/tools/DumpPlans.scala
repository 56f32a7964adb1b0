package graft.tools


/** Write `.explain("formatted")` for named queries to files (round-19
  * deliverable: plans/r19/<query>_<tag>.txt). Runs the query builder at
  * the given sfDir and dumps the RETURNED DataFrame's physical plan —
  * for multi-action queries (the j1 merge family, index builds) this is
  * the final read/summary plan; the internal passes are evidenced by the
  * phase tools (MergePhases, JobProfile) instead.
  *
  * Usage: runMain graft.tools.DumpPlans <outDir> <tag> <q1,q2,...> [sfDir]
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val tag = args(1)
    val names = args(2).split(',').map(_.trim).filter(_.nonEmpty)
    val dir = args.lift(3).getOrElse("/root/testdata/sf0.01")
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val registry = graft.SparkEntry.queries ++ graft.SparkEntry.benchOnlyQueries
    names.foreach { n =>
      try {
        val df = registry(n)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${n}_$tag.txt"), txt)
        println(s"[plans] wrote $outDir/${n}_$tag.txt")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $n failed: ${e.toString.take(300)}")
      }
      CacheRegistry.release(blocking = true)
    }
    spark.stop()
  }
}
