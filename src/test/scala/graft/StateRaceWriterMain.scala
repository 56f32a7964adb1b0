package graft

/** Child process of BucketedAppendStateSpec's two-JVM race (round-15 —
  * Merge got its real fork this round; the state store's claims are the
  * same ManifestIo primitives, and this closes the loop for the
  * maintainer tier too): waits for the go-file, commits ONE version-1
  * append (keyed rows + a small table) against the shared store root,
  * writes the outcome to the done-file, echoes it on stdout. */
object StateRaceWriterMain {
  def main(args: Array[String]): Unit = {
    val root = args(0)
    val goFile = java.nio.file.Paths.get(args(1))
    val doneFile = java.nio.file.Paths.get(args(2))
    val spark = Sessions.builder(cpus = 2)
      .appName("graft-state-race-child")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val state = new graft.streaming.BucketedAppendState(spark, root,
      buckets = 4, keyed = Map("vectors" -> "vec_id"), keepVersions = 8)
    val fresh = Seq((100L, Seq(100.0, 1.0))).toDF("vec_id", "v")
    val meta = Seq((0, Seq(0.0, 1.0), "child")).toDF("cluster", "cv", "tag")
    while (!java.nio.file.Files.exists(goFile)) Thread.sleep(10)
    val outcome =
      try {
        state.commitAppend(1L, Map("vectors" -> fresh, "meta" -> meta))
        "committed"
      } catch {
        case _: graft.operators.VersionConflictException => "conflict"
      }
    java.nio.file.Files.writeString(doneFile, outcome)
    spark.stop()
    println(s"STATE_RACE_RESULT=$outcome")
  }
}
