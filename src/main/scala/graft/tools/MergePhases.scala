package graft.tools

import org.apache.spark.sql.functions._

/** Phase-level timer for the j1 merge family (dev tool, round 18): runs the
  * mergeSkippingZ shape with explicit timers around each top-level call so
  * the JobProfile gap totals can be attributed to build vs cluster vs read.
  * Usage: runMain graft.tools.MergePhases [sfDir]
  */
object MergePhases {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Merge

    def time[T](label: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      println(f"PHASE $label%-28s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
      r
    }

    // warm both fixture scales like Bench's warmup pass
    graft.SparkEntry.queries("j1_merge_skipping_z")(spark, "/root/testdata/sf0.001")
      .write.format("noop").mode("overwrite").save()
    CacheRegistry.release(blocking = true)
    graft.SparkEntry.queries("j1_merge_skipping_z")(spark, dir)
      .write.format("noop").mode("overwrite").save()
    CacheRegistry.release(blocking = true)

    val base = new java.io.File(dir).getName
    val tablePath =
      s"${System.getProperty("java.io.tmpdir")}/graft-merge-phases/$base/games"
    val games = graft.io.Tables.games(spark, dir)
    val existing = games.filter(col("universeId") % 3 =!= 1).drop("descriptionFetched")
    def freshRound(r: Int) = games
      .filter(col("universeId") % 97 === r)
      .select(col("universeId"),
        col("rootPlaceId") + lit(1000000L * r) as "rootPlaceId",
        concat(col("name"), lit(s" r$r")).as("name"),
        when(col("universeId") % 2 === 0, concat(col("description"), lit(s" d$r")))
          .otherwise(lit(null)).cast("string").as("description"),
        (col("playerCount") + lit(r)).as("playerCount"))

    for (run <- 1 to 2) {
      println(s"=== run $run ===")
      time("total") {
        time("rounds(3)") {
          Merge.upsertIncrementalRounds(
            spark, tablePath, existing,
            (1 to 3).map(freshRound), "universeId",
            overwriteCols = Seq("rootPlaceId", "name", "playerCount"),
            coalesceCols = Seq("description"),
            keepCols = Seq("gameplayDescription"),
            buckets = 16)
        }
        time("cluster-1d") {
          Merge.cluster(spark, tablePath, "playerCount", filesPerBucket = 4)
        }
        val preds = Seq(("playerCount", 150L, 299L), ("universeId", 50L, 249L))
        time("read-1d") {
          Merge.readTableWhere(spark, tablePath, preds).inputFiles.length
        }
        time("cluster-z") {
          Merge.clusterZ(spark, tablePath, Seq("playerCount", "universeId"),
            filesPerBucket = 4)
        }
        val pruned = time("read-z") {
          val p = Merge.readTableWhere(spark, tablePath, preds)
          p.inputFiles.length
          p
        }
        time("files-total") {
          Merge.readTable(spark, tablePath).inputFiles.length
        }
        time("output-noop") {
          pruned.select(col("universeId"), col("rootPlaceId"), col("name"),
            col("description"), col("gameplayDescription"), col("playerCount"))
            .orderBy(col("universeId"))
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    spark.stop()
  }
}
