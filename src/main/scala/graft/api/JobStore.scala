package graft.api

import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap
import scala.concurrent.{ExecutionContext, Future}

import org.json4s._

import graft.io.SqliteTimestamps

/** In-memory job queue with the reference jobManager's semantics
  * (reference: src/lib/jobManager.ts:70-268): create → pending,
  * run → running + started_at, body result → completed + result JSON,
  * thrown error → failed + error; progress (current, total, message);
  * listing ordered created_at DESC; stats = counts per status + total.
  *
  * The reference persists this in SQLite because it is single-node
  * bookkeeping — deliberately NOT a distributed concern (SURVEY §2.9: the
  * job queue is orchestration, not dataflow). The engine keeps the store
  * in-process behind this API; [[graft.io.SqliteJobsReader]] covers
  * reading a reference-produced jobs.db, and job STATISTICS at table scale
  * are the A3 groupBy query.
  */
final class JobStore {

  final case class JobRecord(
      id: String,
      command: String,
      status: String,
      progressCurrent: Option[Int],
      progressTotal: Option[Int],
      progressMessage: Option[String],
      result: Option[JValue],
      error: Option[String],
      createdAt: Instant,
      startedAt: Option[Instant],
      completedAt: Option[Instant],
      seq: Long)

  private val jobs = TrieMap.empty[String, JobRecord]
  private val seqCounter = new AtomicLong(0L)

  /** JS Date.toISOString always renders milliseconds. */
  private val iso = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  /** Seed the store from a reference-produced SQLite `jobs.db` (the
    * reference's own persistence, jobManager.ts:46-60), decoded by the
    * pure-Scala [[graft.io.SqliteReader]] — no Spark needed: the job queue
    * is kilobytes of single-node bookkeeping. Mirrors mapRowToJob
    * (jobManager.ts:270-290): `result` text is parsed as JSON, timestamps
    * are UTC `datetime('now')` strings. Returns the number of jobs loaded.
    */
  def loadSqlite(path: String): Int = {
    val (cols, rows) = graft.io.SqliteReader.readTable(path, "jobs")
    val expected = Seq("id", "command", "status", "progress_current",
      "progress_total", "progress_message", "result", "error",
      "created_at", "started_at", "completed_at")
    require(cols == expected, s"unexpected jobs.db columns: $cols")
    def str(v: Any): Option[String] = Option(v).map(_.asInstanceOf[String])
    def num(v: Any): Option[Int] = Option(v).map(_.asInstanceOf[Long].toInt)
    // Two timestamp formats coexist in a real jobs.db: created_at comes from
    // SQLite's datetime('now') DEFAULT ("YYYY-MM-DD HH:MM:SS", jobManager.ts:51),
    // while started_at/completed_at are written via Date.toISOString()
    // ("...T...Z" with milliseconds, jobManager.ts:168,173).
    def ts(v: Any): Option[Instant] = str(v).map(SqliteTimestamps.parse)
    rows.foreach { r =>
      val id = r(0).asInstanceOf[String]
      jobs(id) = JobRecord(
        id = id,
        command = r(1).asInstanceOf[String],
        status = r(2).asInstanceOf[String],
        progressCurrent = num(r(3)),
        progressTotal = num(r(4)),
        progressMessage = str(r(5)),
        // Per-row parse with a raw-string fallback: the reference stores
        // string results unquoted (jobManager.ts:157) and only JSON.parses
        // at read time per job touched (jobManager.ts:278) — one malformed
        // result cell must not abort the whole seed.
        result = str(r(6)).map { raw =>
          try org.json4s.jackson.JsonMethods.parse(raw)
          catch { case _: Throwable => JString(raw) }
        },
        error = str(r(7)),
        createdAt = ts(r(8)).getOrElse(Instant.EPOCH),
        startedAt = ts(r(9)),
        completedAt = ts(r(10)),
        seq = seqCounter.incrementAndGet())
    }
    rows.length
  }

  def createJob(command: String): String = {
    val id = java.util.UUID.randomUUID().toString
    jobs(id) = JobRecord(id, command, "pending", None, None, None, None, None,
      Instant.now(), None, None, seqCounter.incrementAndGet())
    id
  }

  def get(id: String): Option[JobRecord] = jobs.get(id)

  private def update(id: String)(f: JobRecord => JobRecord): Unit =
    jobs.updateWith(id)(_.map(f))

  def progress(id: String, current: Int, total: Int, message: Option[String]): Unit =
    update(id)(_.copy(progressCurrent = Some(current), progressTotal = Some(total),
      progressMessage = message))

  /** The reference's runJob state machine (jobManager.ts:245-268), run
    * asynchronously like its setImmediate dispatch. */
  def runAsync(id: String)(body: () => JValue)(implicit ec: ExecutionContext): Future[Unit] =
    Future {
      update(id)(_.copy(status = "running", startedAt = Some(Instant.now())))
      try {
        val result = body()
        update(id)(_.copy(status = "completed", result = Some(result),
          completedAt = Some(Instant.now())))
      } catch {
        case e: Throwable =>
          update(id)(_.copy(status = "failed",
            error = Some(Option(e.getMessage).getOrElse("Unknown error")),
            completedAt = Some(Instant.now())))
      }
    }

  private def ordered: Seq[JobRecord] =
    jobs.values.toSeq.sortBy(j => (-j.createdAt.toEpochMilli, -j.seq))

  /** ORDER BY created_at DESC LIMIT ? OFFSET ? (jobManager.ts:93-102). */
  def all(limit: Int, offset: Int): Seq[JobRecord] = ordered.slice(offset, offset + limit)

  def byStatus(status: String): Seq[JobRecord] = ordered.filter(_.status == status)

  def byCommand(command: String): Seq[JobRecord] = ordered.filter(_.command == command)

  /** Counts per status + total (jobManager.ts:218-243). */
  def stats: JObject = {
    val vs = jobs.values.toSeq
    def c(s: String) = JLong(vs.count(_.status == s).toLong)
    JObject(
      "pending" -> c("pending"), "running" -> c("running"),
      "completed" -> c("completed"), "failed" -> c("failed"),
      "total" -> JLong(vs.size.toLong))
  }

  /** Job → list-endpoint JSON (jobsList.get.ts:71-92: progress only when
    * both counters set; `error || undefined` → omitted when absent). */
  def toListJson(j: JobRecord): JObject = {
    val base = List(
      "id" -> JString(j.id),
      "command" -> JString(j.command),
      "status" -> JString(j.status))
    val progress = (j.progressCurrent, j.progressTotal) match {
      case (Some(c), Some(t)) =>
        List("progress" -> JObject(
          List("current" -> JLong(c.toLong), "total" -> JLong(t.toLong)) ++
            j.progressMessage.map(m => "message" -> JString(m)).toList))
      case _ => Nil
    }
    val tail =
      j.result.map(r => "result" -> r).toList ++
        j.error.map(e => "error" -> JString(e)).toList ++
        List("created_at" -> JString(iso.format(j.createdAt))) ++
        j.startedAt.map(t => "started_at" -> JString(iso.format(t))).toList ++
        j.completedAt.map(t => "completed_at" -> JString(iso.format(t))).toList
    JObject(base ++ progress ++ tail)
  }

  /** Job → single-job JSON (job.get.ts:68-90 — unlike the list endpoint,
    * `error: job.error` keeps an explicit null). */
  def toJobJson(j: JobRecord): JObject = {
    val base = List(
      "id" -> JString(j.id),
      "command" -> JString(j.command),
      "status" -> JString(j.status))
    val progress = (j.progressCurrent, j.progressTotal) match {
      case (Some(c), Some(t)) =>
        List("progress" -> JObject(
          List("current" -> JLong(c.toLong), "total" -> JLong(t.toLong)) ++
            j.progressMessage.map(m => "message" -> JString(m)).toList))
      case _ => Nil
    }
    val tail =
      j.result.map(r => "result" -> r).toList ++
        List("error" -> j.error.map(JString(_)).getOrElse(JNull: JValue)) ++
        List("created_at" -> JString(iso.format(j.createdAt))) ++
        j.startedAt.map(t => "started_at" -> JString(iso.format(t))).toList ++
        j.completedAt.map(t => "completed_at" -> JString(iso.format(t))).toList
    JObject(base ++ progress ++ tail)
  }
}
