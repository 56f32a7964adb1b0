package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s.JArray
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{GameService, JsonEnvelope, ServingSnapshot}
import graft.api.JsonEnvelope.ok
import graft.enrich.StubEnrichmentClient
import graft.functions.OracleParity.pround
import graft.operators.{Similarity, TextSearch}

/** Differential check of [[ServingSnapshot]]: every endpoint it answers
  * gives the same envelope JSON as the Spark plan it replaced, on a
  * fixture built to hit the edge cases, on sf0.001 and on sf0.01. */
class ServingSnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val display = ServingSnapshot.Display.map(col)

  /** A small result as a JSON array of row objects, the rendering the
    * API used when it answered from Spark plans. */
  private def dataFrameToJson(df: DataFrame): JArray =
    JArray(df.collect().toList.map(JsonEnvelope.rowToJson))

  /** The batch operators the snapshot mirrors, rendered the same way. */
  private final class SparkAnswers(games: DataFrame, emb: DataFrame) {
    def vectorSearch(q: String, k: Int): String = {
      val qv = typedlit(new StubEnrichmentClient(64).embed(Seq(q)).head.toSeq)
      ranked(Similarity.vectorScored(games, emb, qv), k)
    }

    def similarSearch(id: Long, k: Int): String =
      if (emb.filter(col("universeId") === id).isEmpty)
        JsonEnvelope.fail(s"No embeddings found for game with universeId $id")
      else ranked(Similarity.similarScored(games, emb, id), k)

    private def ranked(scored: DataFrame, k: Int): String = ok(dataFrameToJson(
      scored.orderBy(desc("sim"), col("universeId")).limit(k)
        .select(display :+ pround(col("sim"), 2).as("similarity"): _*)))

    def search(q: String, k: Int): String = Option(q.trim).filter(_.nonEmpty).fold(
      JsonEnvelope.fail("Search query (q) is required")) { query =>
      ok(dataFrameToJson(TextSearch.scoredSearch(games, query)
        .orderBy(desc("score"), col("universeId")).limit(k)
        .select(display :+ col("matchType") :+ pround(col("score"), 2).as("relevanceScore"): _*)))
    }

    def gamesList(limit: Option[Int]): String = {
      val sorted = games.orderBy(lower(col("name")), col("name"), col("universeId"))
      ok(dataFrameToJson(limit.fold(sorted)(sorted.limit).select(display: _*)))
    }

    /** Each games row counted once: the embedding side is deduplicated
      * before the left join, so a repeated embedding id adds no game. */
    def stats: String = {
      val hasEmb = emb.filter(col("universeId").isNotNull)
        .select(col("universeId")).distinct().withColumn("has_emb", lit(1))
      val blank = (c: String) => col(c).isNull || trim(col(c)) === ""
      ok(dataFrameToJson(games.join(hasEmb, Seq("universeId"), "left").agg(
        count(lit(1)).as("totalGames"),
        count(lit(1)).as("gamesLackingIcons"),
        count(lit(1)).as("gamesLackingThumbnails"),
        count(when(col("description").isNull || col("description") === "", 1))
          .as("gamesLackingDescriptions"),
        count(when(blank("gameplayDescription"), 1)).as("gamesLackingGameplayDescriptions"),
        count(when(col("has_emb").isNull, 1)).as("gamesLackingEmbeddings"))).arr.head)
    }
  }

  private def assertSame(svc: GameService, spark: SparkAnswers,
      queries: Seq[String], targets: Seq[Long], ks: Seq[Int], searches: Seq[String]): Unit = {
    for (q <- searches; k <- ks)
      assert(svc.search(Some(q), Some(k.toString)) === spark.search(q, k), s"search q='$q' k=$k")
    for (q <- queries; k <- ks)
      assert(svc.vectorSearch(Some(q), Some(k.toString)) === spark.vectorSearch(q, k), s"q=$q k=$k")
    for (id <- targets; k <- ks)
      assert(svc.similarSearch(id.toString, Some(k.toString)) === spark.similarSearch(id, k),
        s"id=$id k=$k")
    for (limit <- Seq(None, Some(1), Some(3), Some(1000)))
      assert(svc.gamesList(limit.map(_.toString)) === spark.gamesList(limit), s"limit=$limit")
    assert(svc.stats() === spark.stats)
  }

  test("snapshot answers equal the Spark plans on zero, NaN, null, duplicate and orphan rows") {
    val rng = new scala.util.Random(11)
    def vec(): Array[Float] = Array.fill(64)(rng.nextGaussian().toFloat)
    val games = Seq[(Option[Long], Long, String, String, String, Option[Long])](
      (Some(1L), 1001L, "Zeta quest", "a", "x", Some(100L)),
      (Some(2L), 1002L, "zeta quest", "", "   ", None),            // null playerCount
      (Some(3L), 1003L, "Émile", null, null, Some(250L)),
      (Some(4L), 1004L, "émile", "   ", "gp", Some(10L)),
      (Some(5L), 1005L, "alpha", "d", "g", Some(0L)),
      // lower() bytes: U+FF41 (EF BD 81) sorts before U+1F600 (F0 9F 98 80)
      // in UTF-8, after it in Java's UTF-16 String.compareTo
      (Some(6L), 1006L, "Ａ wide", "d", "g", Some(600L)),
      (Some(11L), 1011L, "😀 smile", "d", "g", Some(90L)),
      (Some(7L), 1007L, "dup", "d", "g", Some(50L)),                 // duplicate id,
      (Some(7L), 1007L, "dup", "d", "g", Some(400L)),                // other popularity
      (Some(8L), 1008L, "lonely", "d", "g", Some(30L)),              // no embedding
      (Some(9L), 1009L, null, "d", "g", Some(70L)),
      (Some(12L), 1012L, "Zeta quest", "d", "g", Some(120L)),
      (None, 9000L, "ghost", "d", "g", Some(5L)),                    // null id and id 13
      (Some(13L), 1013L, "ghost", "d", "g", Some(5L)),               // tie on score
      // context-sensitive lowering: İ gains a combining dot, a final Σ is ς
      (Some(14L), 1014L, "İstanbul race", "Σ fan club", "ΟΔΟΣ run", Some(60L)),
      (Some(15L), 1015L, "ΟΔΟΣ", null, "zeta zeta fan", Some(80L)),
      (Some(16L), 1016L, "quiet", "   ", "only gameplay zeta", Some(20L))
    ).toDF("universeId", "rootPlaceId", "name", "description", "gameplayDescription",
      "playerCount")
    val emb = Seq[(Option[Long], Array[Float])](
      (Some(1L), vec()),
      (Some(2L), vec()),
      (Some(3L), Array.fill(64)(0f)),                                // zero vector
      (Some(4L), vec().updated(5, Float.NaN)),                       // NaN component
      (Some(5L), null),                                              // null embedding
      (Some(6L), Array(1f, 2f, 3f)),                                 // other length
      (Some(7L), vec()),
      (Some(7L), vec()),                                             // duplicate id
      (Some(9L), vec()),
      (Some(10L), vec()),                                            // orphan
      (Some(11L), vec()),
      (Some(12L), vec()),
      (None, vec())
    ).toDF("universeId", "embedding")
    assertSame(new GameService(() => games, () => emb), new SparkAnswers(games, emb),
      queries = Seq("spark engine", "obby", "Émile ünïcode"),
      targets = Seq(1L, 3L, 4L, 5L, 6L, 7L, 8L, 10L, 999L),
      ks = Seq(1, 2, 5, 100),
      searches = Seq("zeta quest", "Zeta", "  Zeta quest  ", "zeta zeta", "quest zeta",
        "émile", "ÉMILE", "İstanbul", "istanbul", "ΟΔΟΣ", "οδοσ", "σ", "σ fan", "ghost",
        "dup", "gp", "only gameplay", "d", "a", "x", "nomatchxyz", " ", ""))
  }

  for (dir <- Seq(SparkTestSession.Sf0001, "/root/testdata/sf0.01"))
    test(s"snapshot answers equal the Spark plans on ${dir.split('/').last}") {
      val games = graft.io.Tables.games(spark, dir)
      // the 25 commonest words of game names, plus the batch queries
      val nameWords = games.select(explode(split(lower(col("name")), "\\s+")).as("w"))
        .groupBy("w").count().orderBy(desc("count"), col("w")).limit(25)
        .collect().map(_.getString(0)).toSeq
      assertSame(GameService.forDir(spark, dir),
        new SparkAnswers(games, graft.io.Tables.gameEmbeddings(spark, dir)),
        queries = Seq("spark engine", "merge"), targets = Seq(42L, 1L, 500L), ks = Seq(3, 100),
        searches = nameWords ++ Seq("merge", "table value", "spark engine", "the line"))
    }
}
