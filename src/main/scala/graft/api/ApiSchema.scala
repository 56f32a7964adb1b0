package graft.api

/** Declarative response-schema AST and endpoint table — the SINGLE source
  * for (a) [[EnvelopeValidator]]'s runtime checks and (b) the OpenAPI
  * document [[OpenApi]] generates (S16, the last reference file without a
  * counterpart — reference: scripts/generate-swagger.ts:65-111). One
  * table means the served validation and the published doc cannot drift;
  * ApiServerSpec pins doc ↔ validator ↔ router three ways.
  *
  * The shapes are transcribed from the per-file zod `responseSchema`
  * declarations under the reference's `src/endpoints` (games.get.ts:6-14,
  * jobsList.get.ts:6-22, job.get.ts:5-21, the POST job-start envelope).
  */
object ApiSchema {

  sealed trait S
  case object SNum extends S
  case object SStr extends S
  case object SBool extends S
  final case class SNullable(inner: S) extends S
  /** z.enum — validated against the member list. */
  final case class SEnum(values: Seq[String]) extends S
  final case class SArr(item: S) extends S
  /** z.object: required fields present and matching; optional fields
    * matching when present; unknown keys pass (zod strips, not rejects). */
  final case class SObj(
      required: Seq[(String, S)], optional: Seq[(String, S)] = Nil) extends S
  case object SAny extends S

  val statusEnum: S = SEnum(Seq("pending", "running", "completed", "failed"))

  /** The 5-column game row shared by /games and the search endpoints. */
  def gameRow(extra: (String, S)*): S = SObj(
    Seq("universeId" -> SNum, "rootPlaceId" -> SNum, "name" -> SStr,
      "description" -> SNullable(SStr),
      "gameplayDescription" -> SNullable(SStr)) ++ extra)

  val job: S = SObj(
    required = Seq("id" -> SStr, "command" -> SStr, "status" -> statusEnum,
      "created_at" -> SStr),
    optional = Seq(
      "progress" -> SObj(Seq("current" -> SNum, "total" -> SNum),
        Seq("message" -> SStr)),
      "result" -> SAny,
      "error" -> SNullable(SStr),
      "started_at" -> SStr,
      "completed_at" -> SStr))

  val jobStats: S = SObj(Seq(
    "pending" -> SNum, "running" -> SNum, "completed" -> SNum,
    "failed" -> SNum, "total" -> SNum))

  val postResult: S =
    SObj(Seq("jobId" -> SStr, "message" -> SStr, "status" -> statusEnum))

  /** One row per endpoint file in the reference's `src/endpoints` — the
    * 12-endpoint surface. `path` uses OpenAPI `{param}` templates. */
  final case class Endpoint(
      method: String, path: String, summary: String, tag: String, data: S)

  val endpoints: Seq[Endpoint] = Seq(
    Endpoint("get", "/games", "List games", "games", SArr(gameRow())),
    Endpoint("get", "/search", "Text search across games", "search",
      SArr(gameRow(
        "matchType" -> SEnum(graft.functions.TextMatch.MatchTypes),
        "relevanceScore" -> SNum))),
    Endpoint("get", "/vector-search", "Semantic search by embedding", "search",
      SArr(gameRow("similarity" -> SNum))),
    Endpoint("get", "/similar-search/{universeId}", "Games similar to one game",
      "search", SArr(gameRow("similarity" -> SNum))),
    Endpoint("get", "/stats", "Dataset statistics", "stats", SObj(Seq(
      "totalGames" -> SNum, "gamesLackingIcons" -> SNum,
      "gamesLackingThumbnails" -> SNum, "gamesLackingDescriptions" -> SNum,
      "gamesLackingGameplayDescriptions" -> SNum,
      "gamesLackingEmbeddings" -> SNum))),
    Endpoint("get", "/jobs", "List jobs with stats", "jobs",
      SObj(Seq("jobs" -> SArr(job), "stats" -> jobStats))),
    Endpoint("get", "/jobs/{id}", "One job by id", "jobs", job),
    Endpoint("post", "/gather-games", "Start a gather-games job", "jobs", postResult),
    Endpoint("post", "/download-images", "Start an image-download job", "jobs", postResult),
    Endpoint("post", "/download-descriptions", "Start a description-download job",
      "jobs", postResult),
    Endpoint("post", "/generate-gameplay-descriptions",
      "Start a gameplay-description job", "jobs", postResult),
    Endpoint("post", "/generate-embeddings", "Start an embedding job", "jobs",
      postResult))

  /** Template match: `/jobs/{id}` matches `/jobs/abc` (same segment count,
    * `{...}` segments match anything non-empty). */
  private[api] def pathMatches(template: String, concrete: String): Boolean = {
    val t = template.split('/')
    val c = concrete.split('/')
    t.length == c.length && t.zip(c).forall { case (ts, cs) =>
      (ts.startsWith("{") && ts.endsWith("}") && cs.nonEmpty) || ts == cs
    }
  }

  /** The endpoint serving a concrete (method, path), if any. */
  private[api] def endpointFor(method: String, path: String): Option[Endpoint] =
    endpoints.find(e =>
      e.method.equalsIgnoreCase(method) && pathMatches(e.path, path))
}
