package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{OracleViews, Tables}
import graft.functions.TextMatch
import graft.functions.VectorFunctions.popularityFactor
import graft.functions.OracleParity.pround
import graft.model.Constants

/** The reference's text search (`GET /search?q=` — reference:
  * src/endpoints/search.get.ts:113-188) as ONE select over one scan: the
  * [[graft.functions.TextMatch]] expression scores each games row's
  * lowered text against the query (the first-match-wins cascade title →
  * description → gameplayDescription, its bands and word fractions), and
  * the popularity factor multiplies the result. The expression calls the
  * one plain kernel the API's serving snapshot calls too, so the formula
  * exists once and the plan stays whole-stage codegen'd, with no UDF.
  *
  * At scale this is a map-only job: no shuffle at all until the final
  * top-k merge.
  */
object TextSearch {

  /** T8 — limit clamp to [1, 100] (reference: src/lib/commands/search.ts:
    * 14-25; same clamp in the API endpoints). */
  def clampLimit(n: Int): Int = math.max(1, math.min(n, Constants.MaxLimit))

  /** The scored cascade WITHOUT final projection — all game columns plus
    * (matchType, score). Shared by the oracle queries below and the
    * differential spec of the API's serving snapshot. */
  def scoredSearch(games: DataFrame, normalizedQuery: String): DataFrame = {
    val nq = TextMatch.normalizeQuery(normalizedQuery)
    scored(games, lit(nq), typedlit(TextMatch.queryWords(nq)))
  }

  /** The rows `query` matches, each with its matchType and score. */
  private def scored(games: DataFrame, query: Column, words: Column): DataFrame =
    games
      .withColumn("hit", TextMatch.column(query, words))
      .filter(col("hit").isNotNull)
      .withColumn("matchType", col("hit.matchType"))
      .withColumn("score", col("hit.base") * popularityFactor(col("playerCount")))
      .drop("hit")

  /** Builds the scored search DataFrame for an already-normalized query. */
  def search(games: DataFrame, normalizedQuery: String, limit: Int = Constants.DefaultLimit): DataFrame =
    scoredSearch(games, normalizedQuery)
      .orderBy(desc("score"), col("universeId"))
      .limit(clampLimit(limit))
      .select(col("universeId"), col("rootPlaceId"), col("name"),
        col("matchType"), pround(col("score"), 2).as("relevanceScore"))

  private def oracleFor(nq: String, limit: Int): String = {
    val frac = (field: String) =>
      s"""(len(list_filter(string_split_regex('$nq', '\\s+'),
         |      q -> len(list_filter(string_split_regex($field, '\\s+'),
         |               w -> contains(w, q))) > 0))::DOUBLE
         |   / len(string_split_regex('$nq', '\\s+')))""".stripMargin
    OracleViews.withGames(
      s""", prepped AS (
         |  SELECT universeId, rootPlaceId, name,
         |         lower(name) AS nl,
         |         lower(coalesce(description, '')) AS dl,
         |         lower(coalesce(gameplayDescription, '')) AS gl,
         |         least(0.2, coalesce(playerCount, 0) / 500.0) + 0.8 AS pop
         |  FROM games),
         |scored AS (
         |  SELECT universeId, rootPlaceId, name,
         |    CASE WHEN contains(nl, '$nq') THEN 'title'
         |         WHEN contains(dl, '$nq') THEN 'description'
         |         WHEN contains(gl, '$nq') THEN 'gameplayDescription' END AS matchType,
         |    CASE WHEN contains(nl, '$nq') THEN
         |           (100.0 + CASE WHEN nl = '$nq' THEN 50.0
         |                         WHEN starts_with(nl, '$nq') THEN 25.0
         |                         ELSE 0.0 END) * pop
         |         WHEN contains(dl, '$nq') THEN (50.0 + ${frac("dl")} * 20.0) * pop
         |         WHEN contains(gl, '$nq') THEN (25.0 + ${frac("gl")} * 15.0) * pop
         |    END AS score
         |  FROM prepped)
         |SELECT universeId, rootPlaceId, name, matchType, floor(score * 100 + 0.5) / 100.0 AS relevanceScore
         |FROM scored WHERE matchType IS NOT NULL
         |ORDER BY score DESC, universeId
         |LIMIT $limit""".stripMargin)
  }

  /** Batched search: score MANY queries against the corpus in ONE scan —
    * the shape a pipeline runs at scale (the per-query form would rescan
    * 100 TB per query; this is games × queries with the cascade fully
    * column-driven, then a per-query top-k window). */
  def searchMany(games: DataFrame, queriesIn: Seq[String], limitPerQuery: Int): DataFrame = {
    val qs = queriesIn.map(TextMatch.normalizeQuery)
    val session = games.sparkSession
    import session.implicits._
    scoreManyPairs(games.crossJoin(broadcast(qs.toDF("query"))), limitPerQuery)
  }

  /** The column-driven cascade over an already-paired (game-cols, query)
    * frame — factored out of [[searchMany]] so the indexed batch path can
    * feed CANDIDATE pairs instead of the full cross join. The per-query
    * rank is computed within whatever pairs arrive; that is sound for the
    * indexed caller because its candidate set is a superset of the
    * matches per query (the [[searchIndexedFrames]] argument), so the
    * post-filter rows — and hence the ranks — are identical. */
  private def scoreManyPairs(paired: DataFrame, limitPerQuery: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query")).orderBy(desc("score"), col("universeId"))
    scored(paired, col("query"), split(col("query"), "\\s+"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= clampLimit(limitPerQuery))
      .select(col("query"), col("universeId"), col("matchType"),
        col("rank").cast("long").as("rank"), pround(col("score"), 2).as("relevanceScore"))
      .orderBy(col("query"), col("rank"))
  }

  /** Index-served BATCH search: per-query candidate ids from the posting
    * intersection (queries are plan-time literals, so each word's
    * dictionary probe is a broadcast), unioned into (query, universeId)
    * candidate pairs, then the UNCHANGED column-driven cascade. Replaces
    * the games × queries cross join with |candidates| pairs — at 100 TB
    * the cross join scores every doc against every query, while this
    * scores only docs that can match. Identical rows to [[searchMany]]
    * (shared oracle). */
  def searchManyIndexed(games: DataFrame, postings: DataFrame,
      dictionary: DataFrame, queriesIn: Seq[String], limitPerQuery: Int): DataFrame = {
    val session = games.sparkSession
    import session.implicits._
    val cand = queriesIn.map(TextMatch.normalizeQuery).map { q =>
      TextMatch.queryWords(q).map { w =>
        postings
          .join(broadcast(dictionary.filter(col("word").contains(w))), Seq("word"))
          .select(col("universeId")).distinct()
      }.reduce(_ intersect _).withColumn("query", lit(q))
    }.reduce(_ unionByName _)
    scoreManyPairs(games.join(cand, Seq("universeId")), limitPerQuery)
  }

  private def batchOracle(qs: Seq[String], limit: Int): String = {
    val values = qs.map(q => s"('${TextMatch.normalizeQuery(q)}')").mkString(", ")
    val frac = (field: String) =>
      s"""(len(list_filter(string_split_regex(query, '\\s+'),
         |      q -> len(list_filter(string_split_regex($field, '\\s+'),
         |               w -> contains(w, q))) > 0))::DOUBLE
         |   / len(string_split_regex(query, '\\s+'))::DOUBLE)""".stripMargin
    OracleViews.withGames(
      s""", prepped AS (
         |  SELECT g.universeId, q.query,
         |         lower(g.name) AS nl,
         |         lower(coalesce(g.description, '')) AS dl,
         |         lower(coalesce(g.gameplayDescription, '')) AS gl,
         |         least(0.2, coalesce(g.playerCount, 0) / 500.0) + 0.8 AS pop
         |  FROM games g CROSS JOIN (VALUES $values) q(query)),
         |scored AS (
         |  SELECT query, universeId,
         |    CASE WHEN contains(nl, query) THEN 'title'
         |         WHEN contains(dl, query) THEN 'description'
         |         WHEN contains(gl, query) THEN 'gameplayDescription' END AS matchType,
         |    CASE WHEN contains(nl, query) THEN
         |           (100.0 + CASE WHEN nl = query THEN 50.0
         |                         WHEN starts_with(nl, query) THEN 25.0
         |                         ELSE 0.0 END) * pop
         |         WHEN contains(dl, query) THEN (50.0 + ${frac("dl")} * 20.0) * pop
         |         WHEN contains(gl, query) THEN (25.0 + ${frac("gl")} * 15.0) * pop
         |    END AS score
         |  FROM prepped),
         |ranked AS (
         |  SELECT query, universeId, matchType, score,
         |         row_number() OVER (PARTITION BY query
         |                            ORDER BY score DESC, universeId) AS rank
         |  FROM scored WHERE matchType IS NOT NULL)
         |SELECT query, universeId, matchType, rank,
         |       floor(score * 100 + 0.5) / 100.0 AS relevanceScore
         |FROM ranked WHERE rank <= $limit
         |ORDER BY query, rank""".stripMargin)
  }

  private val BatchQueries = Seq("merge", "table value", "spark", "the line")

  // ---------------------------------------------------- posting-list index
  //
  // Round-10 verdict #6: the f6 queries scan every game per query — the
  // reference's own semantics (search.get.ts scans the full table), correct
  // but the wrong 100 TB shape. The substrate for the fix already exists in
  // the engine's index discipline: materialize an inverted token index once
  // (`index_build_postings`), then serve a query by scanning the DICTIONARY
  // (|vocab| rows, tiny against the corpus) for words containing q,
  // equi-joining the matched words against the postings table (narrow
  // (word, id) rows — broadcast the matched word set, never the corpus),
  // and running the UNCHANGED scoring cascade on the candidate docs only.
  //
  // Candidate completeness is the same token equivalence scoredSearch
  // documents: a whitespace-free q occurs in `text` iff it occurs inside
  // some \s+-token of `text` — so "docs with a token containing q" is
  // EXACTLY "docs where some field contains q" = matchType IS NOT NULL,
  // and the indexed query returns byte-identical rows to
  // `f6_text_search_word` (they share the oracle SQL).

  /** The distinct (word, universeId) postings of an arbitrary games frame —
    * the tokenization core of the stored batch artifact below (the
    * CDC-fed maintainer graft.streaming.StreamingPostingsIndex @ 134fd08
    * re-tokenized touched docs through it). */
  private[graft] def postingsOf(games: DataFrame): DataFrame =
    Seq(col("name"), col("description"), col("gameplayDescription"))
      .map(c => games.select(col("universeId"),
        explode(split(lower(coalesce(c, lit(""))), "\\s+")).as("word")))
      .reduce(_ unionByName _)
      .filter(col("word") =!= "")
      .distinct()

  /** The materialized inverted index over the full table. Repartitioned by
    * range on `word` and sorted within partitions so the stored parquet
    * carries word-ordered row groups (min/max pruning for equi-lookups at
    * scale). */
  private[operators] def postingsFrame(spark: SparkSession, dir: String): DataFrame =
    postingsOf(Tables.games(spark, dir))
      .repartitionByRange(col("word"))
      .sortWithinPartitions(col("word"))

  private[operators] def storedPostings(spark: SparkSession, dir: String): DataFrame =
    graft.tools.CacheRegistry.sharedTracked(s"text-postings:$dir")(
      graft.tools.IndexStore.readOrBuild(spark, dir, "text-postings")(
        postingsFrame(spark, dir)))

  /** The dictionary artifact: just the distinct words. |vocab| rows — the
    * only thing a query's substring match ever scans. */
  private[operators] def storedDictionary(spark: SparkSession, dir: String): DataFrame =
    graft.tools.CacheRegistry.sharedTracked(s"text-dictionary:$dir")(
      graft.tools.IndexStore.readOrBuild(spark, dir, "text-dictionary")(
        postingsFrame(spark, dir).select(col("word")).distinct()))

  /** The frames-based indexed-search core: dictionary scan → postings
    * equi-join → cascade scoring on candidates only. Callers supply the
    * three tables — the batch path reads the stored artifacts (the
    * streaming server graft.streaming.StreamingPostingsIndex @ 134fd08 read
    * one committed state version through the same plan).
    *
    * Multi-word queries intersect per-word candidate sets: if a field
    * contains the whole phrase, then EVERY whitespace-free query word lies
    * inside some single token of that field (an occurrence of a
    * whitespace-free word cannot span a token boundary), so the doc is in
    * every word's posting set. The intersection is a superset of the true
    * matches (words may hit different fields of one doc, or hit without
    * adjacency) — exactness comes from re-running the UNCHANGED cascade on
    * the candidates, whose `matchType IS NOT NULL` filter re-checks the
    * whole-phrase containment per field. Per-word candidate frames are
    * small (selective words) so the intersect is cheap; the corpus-sized
    * postings table is only ever equi-joined against a broadcast matched-
    * word set, once per query word. */
  private[graft] def searchIndexedFrames(games: DataFrame, postings: DataFrame,
      dictionary: DataFrame, normalizedQuery: String, limit: Int): DataFrame = {
    val nq = TextMatch.normalizeQuery(normalizedQuery)
    val cand = TextMatch.queryWords(nq).map { w =>
      postings
        .join(broadcast(dictionary.filter(col("word").contains(w))), Seq("word"))
        .select(col("universeId")).distinct()
    }.reduce(_ intersect _)
    search(games.join(cand, Seq("universeId"), "left_semi"), nq, limit)
  }

  /** Index-served search: dictionary scan → postings equi-join → cascade
    * scoring on candidates only. Same results as [[search]] (shared
    * oracle); sub-scan cost whenever the query is selective. */
  def searchIndexedOn(spark: SparkSession, dir: String,
      normalizedQuery: String, limit: Int): DataFrame =
    searchIndexedFrames(Tables.games(spark, dir), storedPostings(spark, dir),
      storedDictionary(spark, dir), normalizedQuery, limit)

  def searchIndexed(spark: SparkSession, dir: String): DataFrame =
    searchIndexedOn(spark, dir, "merge", 10)

  /** Index-served PHRASE search: per-word posting intersection, then the
    * unchanged whole-phrase cascade on the (small) intersected candidate
    * set. Identical rows to [[searchPhrase]] — shares its oracle SQL. */
  def searchIndexedPhrase(spark: SparkSession, dir: String): DataFrame =
    searchIndexedOn(spark, dir, "table value", 10)

  def searchBatch(spark: SparkSession, dir: String): DataFrame =
    searchMany(Tables.games(spark, dir), BatchQueries, 5)

  def searchBatchIndexed(spark: SparkSession, dir: String): DataFrame =
    searchManyIndexed(Tables.games(spark, dir), storedPostings(spark, dir),
      storedDictionary(spark, dir), BatchQueries, 5)

  /** Single-word query: broad match, exercises the full cascade. */
  def searchSingleWord(spark: SparkSession, dir: String): DataFrame =
    search(Tables.games(spark, dir), "merge", 10)

  /** Multi-word query: whole-phrase gate + per-word fraction scoring. */
  def searchPhrase(spark: SparkSession, dir: String): DataFrame =
    search(Tables.games(spark, dir), "table value", 10)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "f6_text_search_word" -> searchSingleWord,
    "f6_text_search_phrase" -> searchPhrase,
    "f6_text_search_batch" -> searchBatch,
    "f6_text_search_indexed" -> searchIndexed,
    "f6_text_search_phrase_indexed" -> searchIndexedPhrase,
    "f6_text_search_batch_indexed" -> searchBatchIndexed
  )

  val oracles: Map[String, String] = Map(
    "f6_text_search_word" -> oracleFor("merge", 10),
    "f6_text_search_phrase" -> oracleFor("table value", 10),
    "f6_text_search_batch" -> batchOracle(BatchQueries, 5),
    // the point of the index: IDENTICAL results to the scan queries — each
    // indexed variant literally shares its scan twin's oracle SQL
    "f6_text_search_indexed" -> oracleFor("merge", 10),
    "f6_text_search_phrase_indexed" -> oracleFor("table value", 10),
    "f6_text_search_batch_indexed" -> batchOracle(BatchQueries, 5)
  )
}
