package graft

import org.apache.spark.sql.SparkSession

/** The one place a local SparkSession's configuration is decided. Every
  * main (Bench, Verify, the API server and CLI, the dev profilers) and the
  * test session build through [[builder]] and chain only what is theirs
  * (an app name, a warehouse dir, a deployment master) onto it, so a
  * measured run, a correctness dump and a served request all see the same
  * engine settings. */
object Sessions {

  /** Local worker threads: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees. Also the shuffle partition count. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = Sessions.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); read as long then convert
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // DRIVER STATUS-STORE RETENTION (round 19): even with the UI off, the
      // app/SQL status listeners retain the last 1000 executions' plan
      // graphs and metric trees. A Bench suite runs ~470 queries with very
      // large plans (the merge family's multi-action trees), so the store
      // grew to heap-pressure scale and measured queries ran against an
      // old gen full of dead plan strings — a measured 2-3× in-suite vs
      // isolated inflation on job-heavy queries (index_build_bpe 19.2 s
      // in-suite vs 5.7 s isolated). Any long-running driver (a suite run,
      // an API server) wants bounded listener state.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "2000")
      .config("spark.ui.retainedDeadExecutors", "10")
}
