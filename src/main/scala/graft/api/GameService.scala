package graft.api

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.enrich.StubEnrichmentClient
import graft.functions.TextMatch
import graft.io.Tables

/** Query logic behind the reference's GET endpoints (SURVEY §2.10),
  * parameter handling included — silent-ignore of invalid limits, clamps,
  * and the exact failure messages (reference: the src/endpoints GET files).
  * Each method returns a fully-rendered envelope JSON string.
  *
  * Every endpoint answers from one [[ServingSnapshot]], collected on
  * first use from the games and embeddings inputs and kept for the
  * service's lifetime; after that no request runs a Spark job, and the
  * service persists nothing (`/stats` still reads an image listing, which
  * can change under a running server).
  */
final class GameService(
    gamesIn: () => DataFrame,
    embeddingsIn: () => DataFrame,
    imageListing: Option[() => DataFrame] = None) {

  import JsonEnvelope._

  private lazy val snapshot: ServingSnapshot = ServingSnapshot.build(gamesIn(), embeddingsIn())

  /** Embedding client standing in for the reference's embedding API call
    * on `/vector-search` (vectorSearch.get.ts:105-121) — deterministic,
    * 64-dim to match the fixture vectors. */
  private val embedClient = new StubEnrichmentClient(64)

  /** GET /games?limit — localeCompare-approximating CI name sort (T2,
    * documented divergence SURVEY §7.4), optional limit (> 0, silently
    * ignored otherwise — games.get.ts:54-60), 5-column projection. */
  def gamesList(limit: Option[String]): String =
    ok(snapshot.games(parsePositive(limit)))

  /** GET /search?q&limit — F6 cascade × F7 popularity, top-k, 2dp rounding
    * (search.get.ts:72-215). */
  def search(q: Option[String], limit: Option[String]): String =
    q.map(TextMatch.normalizeQuery).filter(_.nonEmpty) match {
      case None => fail("Search query (q) is required")
      case Some(query) =>
        ok(snapshot.search(query, parseLimitedLimit(limit, default = 10, max = 100)))
    }

  /** GET /vector-search?q&limit — embed the query (stub client), cosine ×
    * popularity vs ALL games, top-k (vectorSearch.get.ts:72-180). */
  def vectorSearch(q: Option[String], limit: Option[String]): String =
    q.map(_.trim).filter(_.nonEmpty) match {
      case None => fail("Invalid search query")
      case Some(query) =>
        val k = parseLimitedLimit(limit, default = 10, max = 100)
        ok(snapshot.vectorSearch(embedClient.embed(Seq(query)).head, k))
    }

  /** GET /similar-search/:universeId?limit — target lookup, cosine ×
    * popularity vs all others, top-k; the inner join drops orphan
    * embeddings (documented fix of the reference's crash path —
    * similarSearch.get.ts:133). */
  def similarSearch(universeId: String, limit: Option[String]): String =
    universeId.toLongOption match {
      case None => fail("Invalid universe ID")
      case Some(id) =>
        val k = parseLimitedLimit(limit, default = 10, max = 100)
        snapshot.similarSearch(id, k)
          .fold(fail(s"No embeddings found for game with universeId $id"))(ok)
    }

  /** GET /stats — A2 completeness counters with the reference's exact keys
    * (stats.get.ts:44-102). Image existence checks run against a fresh
    * blob-store listing per call (a listing frame keeps the files it found
    * when it was made), each game counted once per kind however often the
    * listing repeats its pair; with no listing wired, every game lacks
    * images — the reference behaves the same with an empty images dir. */
  def stats(): String = {
    val imaged = imageListing.fold(Set.empty[(Long, String)]) { listing =>
      listing().select(col("universeId").cast("long"), col("kind")).distinct().collect()
        .collect { case Row(id: Long, kind: String) => (id, kind) }.toSet
    }
    ok(snapshot.stats(imaged))
  }

  /** parseInt > 0 or silently absent (games.get.ts:54-60). */
  private def parsePositive(s: Option[String]): Option[Int] =
    s.flatMap(_.toIntOption).filter(_ > 0)

  /** Valid in (0, max] else default — the search endpoints' clamp
    * (search.get.ts:85-91). */
  private def parseLimitedLimit(s: Option[String], default: Int, max: Int): Int =
    s.flatMap(_.toIntOption).filter(n => n > 0 && n <= max).getOrElse(default)
}

object GameService {
  /** Service over the engine's parquet-derived games/embeddings views.
    * `imagesDir`, when given, wires /stats' icon/thumbnail counters to a
    * real `binaryFile` listing of the blob store
    * ([[graft.pipeline.Images.listBlobs]]). */
  def forDir(spark: SparkSession, dir: String,
      imagesDir: Option[String] = None): GameService =
    new GameService(
      () => Tables.games(spark, dir),
      () => Tables.gameEmbeddings(spark, dir),
      imagesDir.map(d => () => graft.pipeline.Images.listBlobs(spark, d)))
}
