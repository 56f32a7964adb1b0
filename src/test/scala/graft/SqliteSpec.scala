package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.{SqliteJobsReader, SqliteReader}
import graft.operators.Jobs

/** S15 — reading a REAL SQLite jobs.db (fixture produced by sqlite3 with
  * the reference's exact DDL, src/lib/jobManager.ts:46-60) through the
  * pure-Scala file-format reader, then running the jobs-list query shapes
  * unchanged over it. */
class SqliteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val fixture = "src/test/resources/jobs_fixture.db"

  test("reads the jobs table schema and all rows, including overflow payloads") {
    val (cols, rows) = SqliteReader.readTable(fixture, "jobs")
    assert(cols === Seq("id", "command", "status", "progress_current",
      "progress_total", "progress_message", "result", "error",
      "created_at", "started_at", "completed_at"))
    assert(rows.length === 61)
    // the >1-page result JSON survives the overflow chain intact
    val big = rows.find(_.head == "job-big").get
    val result = big(6).asInstanceOf[String]
    assert(result.length > 20000)
    assert(result.startsWith("""{"message": "big""""))
    assert(result.endsWith("""]}"""))
    // typed values decode: integers stay Long, NULLs stay null
    val running = rows.find(_(2) == "running").get
    assert(running(3).isInstanceOf[Long] && running(4) === 100L)
    assert(rows.find(_(2) == "pending").get(9) === null)
  }

  test("jobs DataFrame feeds the endpoint query shapes unchanged") {
    val df = SqliteJobsReader.read(spark, fixture)
    assert(df.count() === 61)

    // status filter wins over command + pagination (jobsList quirk)
    val failed = Jobs.listJobs(df, Some("failed"), Some("gatherGames"), limit = 5)
    assert(failed.select("status").distinct().collect().map(_.getString(0)).toSeq === Seq("failed"))
    assert(failed.count() === 15) // 60 seeded jobs cycle 4 statuses

    // invalid status falls through to the command branch
    val byCmd = Jobs.listJobs(df, Some("bogus"), Some("generateEmbeddings"))
    assert(byCmd.select("command").distinct().collect().map(_.getString(0)).toSeq ===
      Seq("generateEmbeddings"))
    assert(byCmd.count() === 13) // 12 seeded + job-big

    // unfiltered branch paginates ordered created_at DESC
    val paged = Jobs.listJobs(df, None, None, limit = 10, offset = 5)
    assert(paged.count() === 10)
    val newestFirst = Jobs.listJobs(df, None, None, limit = 1, offset = 0)
      .select("id").collect().head.getString(0)
    assert(newestFirst === "job-big") // created 2026-08-30, latest timestamp

    // timestamps parse as real timestamps (UTC)
    val t = df.filter(col("id") === "job-big").select("created_at").collect().head.getTimestamp(0)
    assert(t.toInstant === java.time.Instant.parse("2026-08-30T12:00:00Z"))
  }

  test("A3 job stats groupBy over the real file") {
    val df = SqliteJobsReader.read(spark, fixture)
    val stats = df.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(stats === Map("pending" -> 15L, "running" -> 15L,
      "completed" -> 16L, "failed" -> 15L))
  }

  test("retention sweep purges a 16-day-old job and keeps a 14-day-old one and one at the cutoff") {
    // the reference deletes WHERE created_at < datetime('now', '-N days')
    // (jobManager.ts:209-216): strictly older than the cutoff. The fixture
    // events hold no row exactly at the sweep's 2024-01-16 cutoff, so the
    // oracle hash alone cannot tell `<` from `<=`
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sweep").toString
    def t(s: String) = java.sql.Timestamp.from(java.time.Instant.parse(s))
    Seq((1L, 7L, "click", t("2024-01-17T00:00:00Z")),
      (2L, 7L, "view", t("2024-01-16T00:00:00Z")),
      (3L, 7L, "purchase", t("2024-01-15T00:00:00Z")))
      .toDF("event_id", "user_id", "event_type", "ts")
      .write.parquet(s"$dir/events.parquet")
    val r = Jobs.retentionSweep(spark, dir).head()
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
  }
}
