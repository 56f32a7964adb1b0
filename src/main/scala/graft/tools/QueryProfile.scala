package graft.tools


/** Steady-state profiler for individual SparkEntry queries:
  * `runMain graft.tools.QueryProfile <query> [iterations] [sfDir]` —
  * repeats the query through the noop sink so JIT/codegen warmup is
  * visible separately from the steady-state cost Bench cannot isolate. */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: QueryProfile <query> [n] [sfDir]"))
    val n = args.lift(1).flatMap(_.toIntOption).getOrElse(3)
    val dir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries(name)
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      graft.tools.CacheRegistry.release()
      println(f"PROFILE $name run$i ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
