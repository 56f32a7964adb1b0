package graft.tools


/** Microbench (dev tool, round 19): price the fixed driver-side cost of
  * one `spark.read.schema(...).parquet(path)` DataFrame construction +
  * resolution and one noop write resolution — the per-call constant every
  * query pays per table it touches. DataSource.lookupDataSource walks a
  * ServiceLoader over every jar on the classpath per call (caught in a
  * main-thread stack sample during the round-19 baseline bench), so the
  * question is whether that constant is worth engineering around.
  * Usage: runMain graft.tools.ReadOverhead [n]
  */
object ReadOverhead {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.flatMap(_.toIntOption).getOrElse(200)
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = "/root/testdata/sf0.001"
    val schema = spark.read.parquet(s"$dir/documents.parquet").schema
    // warm
    (1 to 20).foreach { _ =>
      spark.read.schema(schema).parquet(s"$dir/documents.parquet").queryExecution.analyzed
    }
    var t0 = System.nanoTime()
    (1 to n).foreach { _ =>
      spark.read.schema(schema).parquet(s"$dir/documents.parquet").queryExecution.analyzed
    }
    println(f"READ  resolve+analyze: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms/call over $n calls")
    val df = spark.read.schema(schema).parquet(s"$dir/documents.parquet").limit(1)
    df.write.format("noop").mode("overwrite").save()
    t0 = System.nanoTime()
    (1 to n).foreach { _ =>
      df.write.format("noop").mode("overwrite").save()
    }
    println(f"WRITE noop end-to-end: ${(System.nanoTime() - t0) / 1e6 / n}%.2f ms/call over $n calls")
    spark.stop()
  }
}
