package graft.tools

import org.apache.spark.sql.functions._

/** Scratch profiling main (dev tool): stage-by-stage timings for the dedup
  * hotspots. Not part of the driver contract. */
object Profile {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(name: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[profile] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (n=$n)")
    }

    import graft.operators.Dedup
    val toks = split(lower(col("text")), "\\s+")
    val corpus = Dedup.corpus(spark, dir)
    time("corpus count")(corpus.count())
    val grams = corpus.select(
      col("doc_id"), col("lang"), col("source"),
      sort_array(array_distinct(transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))).as("grams"))
    time("grams build")(grams.write.format("noop").mode("overwrite").save().asInstanceOf[Unit] match { case _ => 0L })
    val x = grams.select(col("doc_id").as("a_id"), col("lang"), col("source"), col("grams").as("ga"))
    val y = grams.select(col("doc_id").as("b_id"), col("lang"), col("source"), col("grams").as("gb"))
    val joined = x.join(y, Seq("lang", "source")).filter(col("a_id") < col("b_id"))
    time("pair join count")(joined.count())
    val withInter = joined.withColumn("inter",
      graft.functions.ArrayExpressions.sortedIntersectCount(col("ga"), col("gb")))
    time("pair join + intersect")(withInter.select(sum(col("inter"))).head().getLong(0))
    time("full ngram query")(Dedup.dedupNgramJaccard(spark, dir).count())
    time("full minhash query")(Dedup.dedupMinhashLsh(spark, dir).count())
    spark.stop()
  }
}
