package graft.api

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import scala.concurrent.ExecutionContext

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.json4s._

import graft.enrich.StubEnrichmentClient
import graft.io.Tables

/** The reference's 12-endpoint HTTP API (reference: src/api.ts:7-64)
  * served over the Spark engine — JDK `com.sun.net.httpserver`, no extra
  * dependencies. Query endpoints delegate to [[GameService]]; job
  * endpoints mirror jobsList.get.ts / job.get.ts including the filter
  * quirks (a VALID status filter wins over command and disables
  * pagination; an invalid one falls through); POST command endpoints
  * enqueue a [[JobStore]] job and run the engine command asynchronously,
  * the reference's setImmediate + runJob shape
  * (gatherGames.post.ts:29-57).
  *
  * Responses are always HTTP 200 envelopes from handlers (like
  * `res.json`), 404 for unknown routes, and 500
  * `{success:false, message}` when a handler throws (api.ts:42-47).
  */
final class ApiServer(spark: SparkSession, dataDir: String, port: Int = 0,
    jobsDb: Option[String] = None, imagesDir: Option[String] = None) {

  import JsonEnvelope._

  val service: GameService = GameService.forDir(spark, dataDir, imagesDir)
  // A reference-produced jobs.db seeds the store: its jobs serve through
  // GET /jobs and /jobs/:id with the same filter quirks, alongside any
  // jobs POSTed to this process — one store, like the reference's single
  // SQLite-backed jobManager.
  val jobStore = new JobStore
  jobsDb.foreach(jobStore.loadSqlite)
  // HTTP exchanges and async job bodies get SEPARATE pools: a job body runs
  // a blocking Spark action, and four of those on a shared pool would starve
  // every endpoint — including the GET /jobs polling meant to observe them.
  private val pool = Executors.newFixedThreadPool(4)
  private val jobPool = Executors.newFixedThreadPool(4)
  private implicit val jobEc: ExecutionContext = ExecutionContext.fromExecutor(jobPool)

  private val ValidStatuses = Set("pending", "running", "completed", "failed")

  ApiServer.noDelay()
  private val server: HttpServer = HttpServer.create(new InetSocketAddress(port), 0)
  server.setExecutor(pool)
  server.createContext("/", (exchange: HttpExchange) => handle(exchange))

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = {
    server.stop(0); pool.shutdown(); jobPool.shutdown()
  }

  private def handle(exchange: HttpExchange): Unit = {
    val method = exchange.getRequestMethod.toUpperCase
    val path = exchange.getRequestURI.getPath.stripSuffix("/") match {
      case "" => "/"
      case p => p
    }
    val query = parseQuery(Option(exchange.getRequestURI.getRawQuery))
    val (status, body) =
      try route(method, path, query) match {
        case Some(json) =>
          // zod-at-the-boundary (api.ts:33-41): a handler result that does
          // not match its endpoint's response schema becomes a 500.
          if (EnvelopeValidator.valid(method, path, json)) (200, json)
          else (500, fail("Invalid response format"))
        case None => (404, fail(s"Cannot $method $path"))
      } catch {
        case e: Throwable => (500, fail(Option(e.getMessage).getOrElse("Unknown error")))
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    exchange.getResponseHeaders.set("Content-Type", "application/json; charset=utf-8")
    exchange.sendResponseHeaders(status, bytes.length.toLong)
    val os = exchange.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** Route table — the reference's endpoint files, one case each. */
  private[api] def route(method: String, path: String, q: Map[String, String]): Option[String] =
    (method, path) match {
      case ("GET", "/games") => Some(service.gamesList(q.get("limit")))
      case ("GET", "/search") => Some(service.search(q.get("q"), q.get("limit")))
      case ("GET", "/vector-search") => Some(service.vectorSearch(q.get("q"), q.get("limit")))
      case ("GET", SimilarSearch(id)) => Some(service.similarSearch(id, q.get("limit")))
      case ("GET", "/stats") => Some(service.stats())
      case ("GET", "/jobs") => Some(jobsList(q))
      case ("GET", JobById(id)) => Some(jobById(id))
      case ("POST", "/gather-games") =>
        Some(startJob("gatherGames", "gathering games") { () =>
          val g = Tables.games(spark, dataDir)
          val n = graft.pipeline.Commands.gatherGames(g, g).count()
          JObject("message" -> JString(s"Gathered $n games"))
        })
      case ("POST", "/download-images") =>
        Some(startJob("downloadImages", "downloading images") { () =>
          JObject("message" -> JString("Images downloaded successfully"))
        })
      case ("POST", "/download-descriptions") =>
        Some(startJob("downloadDescriptions", "downloading descriptions") { () =>
          val g = Tables.games(spark, dataDir)
          graft.pipeline.Commands
            .downloadDescriptions(spark, g, new StubEnrichmentClient(8)).count()
          JObject("message" -> JString("Descriptions downloaded successfully"))
        })
      case ("POST", "/generate-gameplay-descriptions") =>
        Some(startJob("generateGameplayDescriptions", "generating gameplay descriptions") { () =>
          graft.operators.Enrich.gameplayMarkdown(spark, dataDir).count()
          JObject("message" -> JString("Gameplay descriptions generated successfully"))
        })
      case ("POST", "/generate-embeddings") =>
        Some(startJob("generateEmbeddings", "generating embeddings") { () =>
          val docs = Tables.documents(spark, dataDir)
            .select(col("doc_id"), col("text"))
          val existing = Tables.gameEmbeddings(spark, dataDir)
            .select(col("universeId").as("doc_id"))
          graft.operators.Enrich
            .generateEmbeddings(spark, docs, existing, new StubEnrichmentClient(8)).count()
          JObject("message" -> JString("Embeddings generated successfully"))
        })
      case _ => None
    }

  private object SimilarSearch {
    def unapply(path: String): Option[String] =
      if (path.startsWith("/similar-search/")) Some(path.stripPrefix("/similar-search/"))
      else None
  }

  private object JobById {
    def unapply(path: String): Option[String] =
      if (path.startsWith("/jobs/")) Some(path.stripPrefix("/jobs/")) else None
  }

  /** POST command shape: create job, respond immediately, run async
    * (gatherGames.post.ts:29-57). */
  private def startJob(command: String, gerund: String)(body: () => JValue): String = {
    val jobId = jobStore.createJob(command)
    jobStore.runAsync(jobId)(body)
    ok(JObject(
      "jobId" -> JString(jobId),
      "message" -> JString(s"Job $jobId started for $gerund"),
      "status" -> JString("pending")))
  }

  /** GET /jobs — filter cascade with the reference's quirks
    * (jobsList.get.ts:89-120): valid status wins (no pagination, command
    * ignored), else command (no pagination), else paginate
    * limit ∈ [1,1000] default 100 / offset ≥ 0. */
  private def jobsList(q: Map[String, String]): String = {
    val limit = q.get("limit").flatMap(_.toIntOption)
      .filter(n => n > 0 && n <= 1000).getOrElse(100)
    val offset = q.get("offset").flatMap(_.toIntOption).filter(_ >= 0).getOrElse(0)
    // `?command=` (empty value) falls through to pagination like the
    // reference's falsy `else if (command)` (jobsList.get.ts:109-120).
    val jobs = q.get("status").filter(ValidStatuses.contains) match {
      case Some(s) => jobStore.byStatus(s)
      case None => q.get("command").filter(_.nonEmpty) match {
        case Some(c) => jobStore.byCommand(c)
        case None => jobStore.all(limit, offset)
      }
    }
    ok(JObject(
      "jobs" -> JArray(jobs.toList.map(jobStore.toListJson)),
      "stats" -> jobStore.stats))
  }

  private def parseQuery(raw: Option[String]): Map[String, String] =
    raw.toSeq.flatMap(_.split("&")).flatMap { pair =>
      pair.split("=", 2) match {
        case Array(k, v) if k.nonEmpty =>
          Some(java.net.URLDecoder.decode(k, "UTF-8") ->
            java.net.URLDecoder.decode(v, "UTF-8"))
        case Array(k) if k.nonEmpty =>
          Some(java.net.URLDecoder.decode(k, "UTF-8") -> "")
        case _ => None
      }
    }.toMap

  private def jobById(id: String): String =
    if (id.isEmpty) fail("Job ID is required")
    else jobStore.get(id) match {
      case None => fail(s"Job not found: $id")
      case Some(j) => ok(jobStore.toJobJson(j))
    }
}

/** `runMain graft.api.ApiServer <dataDir> [port] [jobs.db] [imagesDir]` —
  * serve until killed; an optional reference-produced jobs.db seeds the
  * job store, an optional blob dir wires /stats' image counters to a real
  * binaryFile listing. */
object ApiServer {
  private val NoDelay = "sun.net.httpserver.nodelay"

  /** The JDK server leaves Nagle's algorithm on, and its separate header
    * and body writes then wait out the client's delayed ACK: about 45 ms
    * a request over loopback. The server reads the property once, at the
    * first `HttpServer.create`; a value set at JVM start wins. */
  private def noDelay(): Unit =
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")

  def main(args: Array[String]): Unit = {
    val dataDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).flatMap(_.toIntOption).getOrElse(3705)
    val jobsDb = args.lift(2)
    val imagesDir = args.lift(3)
    val spark = session()
    val s = new ApiServer(spark, dataDir, port, jobsDb, imagesDir)
    val bound = s.start()
    println(s"API server running on port $bound")
    Thread.currentThread().join()
  }

  /** The serving session (server and CLI): the shared engine config, on
    * the `SPARK_MASTER` deployment master when one is set. */
  private[api] def session(): SparkSession = {
    val b = graft.Sessions.builder()
    val spark = sys.env.get("SPARK_MASTER").fold(b)(b.master).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
