package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{ArrayExpressions, VectorFunctions}

/** Scale-stress harness (dev tool): replicates the sf0.1 fixtures K× in
  * memory and measures kernel throughput, to show the per-row cost stays
  * flat as data grows — the local[32] proxy for "would this hold at 1000
  * executors". Replication happens executor-side (explode of a sequence),
  * so input generation itself is distributed.
  */
object ScaleBench {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(df: DataFrame, idCol: String, k: Int): DataFrame =
      df.withColumn("rep", explode(sequence(lit(0), lit(k - 1))))
        .withColumn(idCol, col(idCol) + col("rep") * 10000000L)
        .drop("rep")
        .repartition(graft.Sessions.cpus)

    def time[T](f: => T): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val target = emb.filter(col("vec_id") === 42)
      .select(col("embedding").as("qe"))

    println(f"${"op"}%-28s ${"rows"}%12s ${"sec"}%8s ${"rows/sec"}%12s")
    for (k <- Seq(10, 50, 100)) {
      val e = replicate(emb, "vec_id", k)
      val n = k * 2000L
      val s = time {
        e.crossJoin(broadcast(target))
          .select(VectorFunctions.cosineSimilarity(col("embedding"), col("qe")).as("c"))
          .agg(sum(col("c"))).head()
      }
      println(f"${"cosine_scan"}%-28s $n%12d $s%8.2f ${(n / s).toLong}%12d")
    }
    for (k <- Seq(5, 20)) {
      val d = replicate(docs, "doc_id", k)
      val n = k * 5000L
      val s = time {
        d.select(ArrayExpressions.affineMinHash(
            ArrayExpressions.hashedWordNGrams(split(lower(col("text")), "\\s+"), 3),
            (0 until 16).map(j => 2L * j + 3L), (0 until 16).map(j => 1000003L * j),
            2147483647L).as("mh"))
          .agg(sum(element_at(col("mh"), 1))).head()
      }
      println(f"${"shingle_minhash"}%-28s $n%12d $s%8.2f ${(n / s).toLong}%12d")
      val s2 = time {
        d.select(ArrayExpressions.simHash60(
            ArrayExpressions.hashedWords60(split(lower(col("text")), "\\s+"))).as("sh"))
          .agg(count(col("sh"))).head() // count(col) still evaluates the kernel; sum would overflow ANSI
      }
      println(f"${"simhash"}%-28s $n%12d $s2%8.2f ${(n / s2).toLong}%12d")
    }
    spark.stop()
  }
}
