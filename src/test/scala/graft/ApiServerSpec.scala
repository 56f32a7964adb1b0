package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.ApiServer

/** Golden tests for the §2.10 HTTP surface: full envelope JSON per
  * endpoint against checked-in expectations
  * (src/test/resources/golden), plus the job-queue lifecycle over real
  * HTTP on an ephemeral port. */
class ApiServerSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark

  private var server: ApiServer = _
  private var base: String = _
  private val client = HttpClient.newHttpClient()

  override def beforeAll(): Unit = {
    super.beforeAll()
    server = new ApiServer(spark, SparkTestSession.Sf0001, port = 0)
    val port = server.start()
    base = s"http://localhost:$port"
  }

  override def afterAll(): Unit = {
    server.stop()
    super.afterAll()
  }

  private def get(path: String, at: String = base): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(at + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def post(path: String): (Int, String) = {
    val resp = client.send(
      HttpRequest.newBuilder(URI.create(base + path))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  private def golden(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"src/test/resources/golden/$name.json")), "UTF-8")

  private def assertGolden(path: String, name: String): Unit = {
    val (status, body) = get(path)
    assert(status === 200)
    assert(body === golden(name))
  }

  test("GET /games matches golden envelope") {
    assertGolden("/games?limit=3", "games_limit3")
  }

  test("GET /search matches golden envelope") {
    assertGolden("/search?q=merge&limit=2", "search_merge_limit2")
  }

  test("GET /vector-search matches golden envelope") {
    assertGolden("/vector-search?q=spark%20engine&limit=2", "vector_search_limit2")
  }

  test("GET /similar-search/:id matches golden envelope") {
    assertGolden("/similar-search/42?limit=2", "similar_search_42_limit2")
  }

  test("GET /stats matches golden envelope") {
    assertGolden("/stats", "stats")
  }

  /** Spark jobs started while `paths` are served. A barrier job run after
    * the requests bounds the count: the listener bus delivers events in
    * order, so once the barrier's start arrives every earlier job has been
    * counted. */
  private def jobsRunBy(paths: Seq[String], at: String = base): Int = {
    assert(get("/stats", at)._1 === 200) // builds the snapshot if no earlier request did
    val sc = spark.sparkContext
    val barrierGroup = "api-spec-barrier"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val barrierSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == barrierGroup) barrierSeen.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      for (path <- paths) assert(get(path, at)._1 === 200, path)
      sc.setJobGroup(barrierGroup, "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(barrierSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("similar-search runs one collect action per request (no separate existence job)") {
    // The snapshot answers the hit and the miss path in memory, so the
    // per-request budget (once one collect, with no separate `isEmpty`
    // existence job) is now zero jobs.
    assert(jobsRunBy(Seq("/similar-search/42?limit=2", "/similar-search/999999123")) === 0)
  }

  test("every GET runs no Spark job and persists nothing once the snapshot is built") {
    // a fresh server, so the snapshot build falls inside the persist check
    val sc = spark.sparkContext
    val persisted = sc.getPersistentRDDs.keySet
    val fresh = new ApiServer(spark, SparkTestSession.Sf0001, port = 0)
    val at = s"http://localhost:${fresh.start()}"
    try {
      assert(jobsRunBy(Seq("/vector-search?q=spark%20engine&limit=5", "/similar-search/42?limit=2",
        "/search?q=merge&limit=2", "/search?q=nomatchxyz", "/search?q=table%20value&limit=5",
        "/games?limit=3", "/stats"), at) === 0)
      assert((sc.getPersistentRDDs.keySet -- persisted).isEmpty)
    } finally fresh.stop()
  }

  test("sequential requests on one connection do not wait out Nagle's algorithm") {
    // with Nagle on, each response stalls ~45 ms on the client's delayed ACK
    val http11 = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    val ms = (1 to 21).map { _ =>
      val t0 = System.nanoTime()
      http11.send(HttpRequest.newBuilder(URI.create(base + "/jobs/xyz")).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (System.nanoTime() - t0) / 1e6
    }
    val median = ms.sorted.apply(ms.length / 2)
    assert(median < 20.0, s"median $median ms over ${ms.map(_.round).mkString(", ")}")
  }

  test("failure envelopes match the reference messages") {
    assert(get("/search")._2 === golden("search_missing_q"))
    assert(get("/similar-search/abc")._2 === golden("similar_search_bad_id"))
    assert(get("/similar-search/999999123")._2 === golden("similar_search_no_emb"))
  }

  test("unknown route is a 404 failure envelope") {
    val (status, body) = get("/nope")
    assert(status === 404)
    assert(body.startsWith("""{"success":false"""))
  }

  test("invalid limits are silently ignored like the reference") {
    // search.get.ts:85-91 — bad/oversized limit falls back to default 10
    val (_, bad) = get("/search?q=merge&limit=oops")
    val (_, big) = get("/search?q=merge&limit=5000")
    val (_, default) = get("/search?q=merge")
    assert(bad === default && big === default)
  }

  test("POST command runs an async job through the lifecycle") {
    val (status, body) = post("/gather-games")
    assert(status === 200)
    assert(body.contains(""""success":true"""))
    val jobId = """"jobId":"([^"]+)"""".r.findFirstMatchIn(body).get.group(1)
    assert(body.contains(s"Job $jobId started for gathering games"))
    // poll until the async body completes (reference: setImmediate + runJob)
    var job = ""
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (!job.contains(""""status":"completed"""") && System.nanoTime() < deadline) {
      Thread.sleep(200)
      job = get(s"/jobs/$jobId")._2
    }
    assert(job.contains(""""status":"completed""""))
    assert(job.contains(""""result":{"message":"Gathered 500 games"}"""))
    assert(job.contains(""""started_at""""))
    assert(job.contains(""""completed_at""""))
  }

  test("GET /jobs filter quirks: valid status wins, invalid falls through to command") {
    // ensure at least one completed job exists from the lifecycle test
    val all = get("/jobs")._2
    assert(all.contains(""""stats":{"""))
    // invalid status + command → command branch (jobsList.get.ts:113-120)
    val byCommand = get("/jobs?status=bogus&command=gatherGames")._2
    assert(byCommand.contains(""""command":"gatherGames""""))
    // valid status ignores a non-matching command filter entirely
    val statusWins = get("/jobs?status=completed&command=doesNotExist")._2
    assert(statusWins.contains(""""status":"completed"""") ||
      statusWins.contains(""""jobs":[]"""))
  }

  test("GET /jobs?command= (empty value) falls through to pagination like the reference") {
    // jobsList.get.ts:109-120 — `else if (command)` treats '' as falsy, so an
    // empty command param must behave exactly like no command param at all
    assert(get("/jobs?command=")._2 === get("/jobs")._2)
  }

  test("stats counts a whitespace-only description as present (stats.get.ts:74-84)") {
    import spark.implicits._
    // reference: description tests exactly undefined | '' | null (no trim);
    // gameplayDescription is falsy-or-blank-after-trim
    val games = Seq(
      (1L, 1L, "a", "   ", "   "), // ws-only: description present, gameplay lacking
      (2L, 2L, "b", "", "x"),      // empty-string description lacking
      (3L, 3L, "c", null, null)    // null lacking on both
    ).toDF("universeId", "rootPlaceId", "name", "description", "gameplayDescription")
    val emb = Seq((1L, Array(0.1f))).toDF("universeId", "embedding")
    val svc = new graft.api.GameService(() => games, () => emb)
    val out = svc.stats()
    assert(out.contains(""""gamesLackingDescriptions":2"""))
    assert(out.contains(""""gamesLackingGameplayDescriptions":2"""))
  }

  test("GET /jobs/:id for unknown id is the reference's failure envelope") {
    assert(get("/jobs/xyz")._2 === """{"success":false,"message":"Job not found: xyz"}""")
  }

  test("CLI service emits byte-identical envelopes to the HTTP layer") {
    // the CLI reuses GameService; spot-check equality through a fresh one
    val svc = graft.api.GameService.forDir(spark, SparkTestSession.Sf0001)
    assert(svc.stats() === get("/stats")._2)
    assert(svc.gamesList(Some("3")) === get("/games?limit=3")._2)
  }

  test("a reference-produced jobs.db serves through /jobs with the filter quirks intact") {
    val db = new ApiServer(spark, SparkTestSession.Sf0001, port = 0,
      jobsDb = Some("src/test/resources/jobs_fixture.db"))
    val port = db.start()
    val dbBase = s"http://localhost:$port"
    def getDb(path: String): String = client.send(
      HttpRequest.newBuilder(URI.create(dbBase + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    try {
      // all 61 fixture jobs behind the paginated default (limit 100)
      val all = getDb("/jobs")
      assert(all.contains(""""total":61"""))
      assert("\"id\":".r.findAllIn(all).length === 61)
      // newest-first ordering: job-big (created 2026-08-30) leads
      assert(all.indexOf(""""id":"job-big"""") >= 0)
      assert(all.indexOf(""""id":"job-big"""") === all.indexOf(""""id":"""))
      // the >1-page overflow result JSON is served parsed (reference:
      // jobManager.ts:278 JSON.parse), not as the raw TEXT column
      assert(getDb("/jobs/job-big").contains(""""result":{"message":"big""""))
      // valid status wins over command and pagination (jobsList quirk)
      // 15 seeded failed jobs, unpaginated despite limit=2
      val failed = getDb("/jobs?status=failed&command=gatherGames&limit=2")
      assert("\"status\":\"failed\"".r.findAllIn(failed).length === 15)
      // invalid status falls through to the command branch
      val byCmd = getDb("/jobs?status=bogus&command=generateEmbeddings")
      assert("\"command\":\"generateEmbeddings\"".r.findAllIn(byCmd).length === 13)
      // pagination applies only on the unfiltered branch
      val paged = getDb("/jobs?limit=10&offset=5")
      assert("\"id\":".r.findAllIn(paged).length === 10)
    } finally db.stop()
  }

  test("seeding accepts Date.toISOString() timestamps and raw string results") {
    // jobs_iso_fixture.db mixes datetime('now') created_at with
    // Date.toISOString() started_at/completed_at (jobManager.ts:51 vs
    // 168,173) and stores one string result RAW (jobManager.ts:157) — a
    // real reference-produced db, where seeding previously threw.
    val store = new graft.api.JobStore
    assert(store.loadSqlite("src/test/resources/jobs_iso_fixture.db") === 4)
    val iso = store.get("job-iso").get
    assert(iso.createdAt === java.time.Instant.parse("2026-08-01T10:00:00Z"))
    assert(iso.startedAt === Some(java.time.Instant.parse("2026-08-01T10:00:01.123Z")))
    assert(iso.completedAt === Some(java.time.Instant.parse("2026-08-01T10:00:05.456Z")))
    // a malformed/raw result cell degrades to a JSON string, not a crash
    assert(store.get("job-rawstr").get.result ===
      Some(org.json4s.JString("plain text result, not JSON")))
    // the Spark-facing reader accepts the same mixed formats
    val df = graft.io.SqliteJobsReader.read(spark, "src/test/resources/jobs_iso_fixture.db")
    val started = df.filter(org.apache.spark.sql.functions.col("id") === "job-iso")
      .select("started_at").collect().head.getTimestamp(0)
    assert(started.toInstant === java.time.Instant.parse("2026-08-01T10:00:01.123Z"))
  }

  test("30-day retention purges a 31-day-old job and keeps a 29-day-old one") {
    val store = new graft.api.JobStore
    store.loadSqlite("src/test/resources/jobs_iso_fixture.db")
    val now = java.time.Instant.parse("2026-08-31T00:00:00Z")
    assert(store.deleteOld(olderThanDays = 30, now = now) === 1)
    assert(store.get("job-31d").isEmpty)     // 31 days old — purged
    assert(store.get("job-29d").isDefined)   // 29 days old — kept
    assert(store.get("job-iso").isDefined)
    // deleteJob mirrors result.changes > 0
    assert(store.deleteJob("job-29d"))
    assert(!store.deleteJob("job-29d"))
  }

  test("envelope validation: every live endpoint passes, malformed payloads 500") {
    import graft.api.EnvelopeValidator
    // the running endpoints all pass the boundary check (they returned 200 above);
    // malformed payloads are rejected exactly like api.ts:33-41
    assert(!EnvelopeValidator.valid("GET", "/stats",
      """{"success":true,"data":{"totalGames":"not-a-number"}}"""))
    assert(!EnvelopeValidator.valid("GET", "/games",
      """{"success":true,"data":[{"universeId":1}]}"""))
    assert(!EnvelopeValidator.valid("GET", "/jobs",
      """{"success":true,"data":{"jobs":[{"id":1}],"stats":{}}}"""))
    assert(!EnvelopeValidator.valid("GET", "/games", """{"success":true}"""))
    assert(!EnvelopeValidator.valid("GET", "/games", "not json"))
    // failure envelopes are part of every endpoint's schema (apiResponse union)
    assert(EnvelopeValidator.valid("GET", "/stats",
      """{"success":false,"message":"boom"}"""))
    // a well-formed success payload passes
    assert(EnvelopeValidator.valid("GET", "/games",
      """{"success":true,"data":[{"universeId":1,"rootPlaceId":2,"name":"g","description":null,"gameplayDescription":"x"}]}"""))
  }

  test("OpenAPI doc (S16): 12 endpoints, in sync with router and validator") {
    import graft.api.{ApiSchema, EnvelopeValidator, OpenApi}
    import org.json4s._

    // the documented surface IS the reference's 12-endpoint API
    assert(ApiSchema.endpoints.size === 12)
    assert(ApiSchema.endpoints.map(e => (e.method, e.path)).distinct.size === 12)

    // doc ↔ router: every documented endpoint, instantiated with a sample
    // path parameter, resolves in the live route table (no phantom docs)
    ApiSchema.endpoints.foreach { e =>
      val concrete = e.path.replace("{universeId}", "8").replace("{id}", "nope")
      val (code, _) = if (e.method == "get") get(concrete) else post(concrete)
      assert(code !== 404, s"documented ${e.method} ${e.path} does not route")
    }
    // the POSTs above started real async jobs — drain them so suite
    // teardown doesn't race their Spark actions
    val drainDeadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    var active = true
    while (active && System.nanoTime() < drainDeadline) {
      val jobs = get("/jobs")._2
      active = jobs.contains(""""status":"running"""") ||
        jobs.contains(""""status":"pending"""")
      if (active) Thread.sleep(300)
    }
    assert(!active, "spawned jobs did not drain in 120s")

    // doc ↔ validator: every documented EXAMPLE envelope passes the live
    // boundary check for its own endpoint — the schemas the doc publishes
    // are the schemas the server enforces
    ApiSchema.endpoints.foreach { e =>
      val concrete = e.path.replace("{universeId}", "8").replace("{id}", "j1")
      val rendered = org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(OpenApi.envelopeExample(e.data)))
      assert(EnvelopeValidator.valid(e.method.toUpperCase, concrete, rendered),
        s"documented example for ${e.method} ${e.path} fails its own schema")
    }

    // the rendered document has the generate-swagger.ts shape: openapi
    // version, one path item per template, 200 + default per operation
    val doc = OpenApi.document
    val JString(ver) = doc \ "openapi"
    assert(ver === "3.0.0")
    val JObject(paths) = doc \ "paths"
    assert(paths.map(_._1).toSet ===
      ApiSchema.endpoints.map(_.path).toSet)
    ApiSchema.endpoints.foreach { e =>
      val op = doc \ "paths" \ e.path \ e.method
      assert((op \ "responses" \ "200") !== JNothing,
        s"${e.path} missing 200 response")
      assert((op \ "responses" \ "default" \ "description") ===
        JString("Global error response"))
    }

    // example derivation follows the reference's mechanical rules
    // (string → "string", number → 0, nullable → null, arrays of one)
    val gamesExample = OpenApi.example(ApiSchema.SArr(ApiSchema.gameRow()))
    assert(gamesExample === JArray(List(JObject(
      "universeId" -> JInt(0), "rootPlaceId" -> JInt(0),
      "name" -> JString("string"), "description" -> JNull,
      "gameplayDescription" -> JNull))))

    // the writer is the script counterpart: emits the rendered doc
    val out = java.nio.file.Files.createTempDirectory("swagger").resolve("swagger.json")
    OpenApi.main(Array(out.toString))
    assert(new String(java.nio.file.Files.readAllBytes(out), "UTF-8") === OpenApi.render)
  }
}
