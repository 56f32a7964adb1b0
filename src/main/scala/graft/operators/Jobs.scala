package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.model.Constants

/** The reference's job-queue QUERY surface (S15/A3/T7 and the jobs-list
  * endpoint quirks — src/endpoints/jobsList.get.ts:113-120):
  *
  *   - a VALID status filter wins: command filter AND limit/offset are
  *     ignored (an invalid status falls through to the command branch);
  *   - else a command filter applies, also unpaginated;
  *   - else the unfiltered listing paginates (limit ∈ [1,1000] default 100,
  *     offset ≥ 0), ordered created_at DESC.
  *
  * The jobs table itself is derived deterministically from `events` —
  * the reference's SQLite file is a single-node bookkeeping concern; what
  * is rebuilt here is its query semantics.
  */
object Jobs {

  private val CommandNames = Seq(
    "gatherGames", "downloadImages", "downloadDescriptions",
    "generateGameplayDescriptions", "generateEmbeddings", "pruneGames", "search")

  private val ValidStatuses = Set("pending", "running", "completed", "failed")

  /** Deterministic jobs view over events. */
  def jobs(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).select(
      col("event_id").as("id"),
      element_at(
        array(CommandNames.map(lit): _*),
        (col("user_id") % CommandNames.length).cast("int") + 1).as("command"),
      when(col("event_type") === "click", "completed")
        .when(col("event_type") === "error", "failed")
        .when(col("event_type") === "view", "running")
        .otherwise("pending").as("status"),
      col("ts").as("created_at"))

  private val jobsSqlView: String = {
    val arr = CommandNames.map(c => s"'$c'").mkString(", ")
    s"""jobs AS (
       |  SELECT event_id AS id,
       |         ([$arr])[CAST(user_id % ${CommandNames.length} AS INTEGER) + 1] AS command,
       |         CASE WHEN event_type = 'click' THEN 'completed'
       |              WHEN event_type = 'error' THEN 'failed'
       |              WHEN event_type = 'view' THEN 'running'
       |              ELSE 'pending' END AS status,
       |         ts AS created_at
       |  FROM events)""".stripMargin
  }

  /** The endpoint's filter cascade, faithfully including the quirks. */
  def listJobs(
      jobsDf: DataFrame,
      status: Option[String],
      command: Option[String],
      limit: Int = 100,
      offset: Int = 0): DataFrame = {
    val ordered = jobsDf.orderBy(desc("created_at"), col("id"))
    status.filter(ValidStatuses.contains) match {
      case Some(s) => ordered.filter(col("status") === s)
      case None => command match {
        case Some(c) => ordered.filter(col("command") === c)
        case None =>
          val lim = math.max(1, math.min(limit, Constants.JobsMaxLimit))
          ordered.offset(math.max(0, offset)).limit(lim)
      }
    }
  }

  /** Quirk query: status AND command both passed → status wins, command is
    * ignored, no pagination (all failed jobs come back). */
  def listStatusWins(spark: SparkSession, dir: String): DataFrame =
    listJobs(jobs(spark, dir), Some("failed"), Some("gatherGames"))
      .select(col("id"), col("command"), col("status"), col("created_at"))

  val listStatusWinsSql: String =
    s"""WITH $jobsSqlView
       |SELECT id, command, status, created_at FROM jobs
       |WHERE status = 'failed'
       |ORDER BY created_at DESC, id""".stripMargin

  /** Invalid status falls through to the command branch. */
  def listCommandFallthrough(spark: SparkSession, dir: String): DataFrame =
    listJobs(jobs(spark, dir), Some("bogus"), Some("generateEmbeddings"))
      .select(col("id"), col("command"), col("status"), col("created_at"))

  val listCommandFallthroughSql: String =
    s"""WITH $jobsSqlView
       |SELECT id, command, status, created_at FROM jobs
       |WHERE command = 'generateEmbeddings'
       |ORDER BY created_at DESC, id""".stripMargin

  /** Unfiltered branch: pagination applies. */
  def listPaged(spark: SparkSession, dir: String): DataFrame =
    listJobs(jobs(spark, dir), None, None, limit = 50, offset = 10)
      .select(col("id"), col("command"), col("status"), col("created_at"))

  val listPagedSql: String =
    s"""WITH $jobsSqlView
       |SELECT id, command, status, created_at FROM jobs
       |ORDER BY created_at DESC, id
       |LIMIT 50 OFFSET 10""".stripMargin

  private def cutoffTs(olderThanDays: Int, now: java.time.Instant): java.sql.Timestamp =
    java.sql.Timestamp.from(now.minus(java.time.Duration.ofDays(olderThanDays.toLong)))

  /** Fixed-clock retention sweep over the derived jobs table: how many rows
    * a 15-day sweep at now = 2024-01-31T00:00Z would delete vs retain
    * (events span 2024-01-01..30, so both sides are non-empty). */
  def retentionSweep(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = cutoffTs(15, java.time.Instant.parse("2024-01-31T00:00:00Z"))
    jobs(spark, dir).agg(
      count(when(col("created_at") < lit(cutoff), 1)).as("deleted_jobs"),
      count(when(col("created_at") >= lit(cutoff), 1)).as("retained_jobs"))
  }

  val retentionSweepSql: String =
    s"""WITH $jobsSqlView
       |SELECT count(CASE WHEN created_at < TIMESTAMP '2024-01-16 00:00:00' THEN 1 END) AS deleted_jobs,
       |       count(CASE WHEN created_at >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 END) AS retained_jobs
       |FROM jobs""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "jobs_list_status_wins" -> listStatusWins,
    "jobs_list_command_fallthrough" -> listCommandFallthrough,
    "jobs_list_paged" -> listPaged,
    "jobs_retention_sweep" -> retentionSweep
  )

  val oracles: Map[String, String] = Map(
    "jobs_list_status_wins" -> listStatusWinsSql,
    "jobs_list_command_fallthrough" -> listCommandFallthroughSql,
    "jobs_list_paged" -> listPagedSql,
    "jobs_retention_sweep" -> retentionSweepSql
  )
}
