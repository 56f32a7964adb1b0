package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.{GenericArrayData, SQLOrderingUtil}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.json4s._
import scala.jdk.CollectionConverters._

import graft.functions.{CosineSimilarity, TextMatch}
import graft.functions.OracleParity.pround
import graft.functions.VectorFunctions.{asDouble, popularityFactor}

/** What every API read answers from, collected to the driver once and
  * never changed: the games rows in `/games` order, each with its display
  * fields, popularity factor and lowered text, and the embeddings as
  * plain double arrays. Answering from it runs no Spark job — the
  * reference's own in-memory scans (search.get.ts:113-188,
  * similarSearch.get.ts:126-138).
  *
  * Every answer equals the Spark plan it replaces: `vectorScored` /
  * `similarScored` inner-joined on universeId (a duplicate key on either
  * side multiplies rows, like the join), then
  * `orderBy(desc("sim"), col("universeId"))`, `limit` and `pround`; and
  * `TextSearch.scoredSearch` ordered by `desc("score")`, `universeId`.
  * ServingSnapshotSpec runs both on the same inputs. */
final class ServingSnapshot private (
    display: Array[List[JField]],
    popularity: Array[Double],
    gameKeys: Array[java.lang.Long],
    text: Array[Array[UTF8String]],
    lackingDescriptions: Long,
    lackingGameplayDescriptions: Long,
    embIds: Array[Long],
    embVecs: Array[Array[Double]]) {

  import ServingSnapshot._

  /** Games rows per embedding row: the inner join, in `/games` order. */
  private val joined: Array[Array[Int]] = {
    val byKey = gameKeys.indices.filter(gameKeys(_) != null)
      .groupBy(g => gameKeys(g).longValue).map { case (k, gs) => k -> gs.toArray }
    embIds.map(byKey.getOrElse(_, Array.emptyIntArray))
  }

  private val lackingEmbeddings: Long = {
    val ids = embIds.toSet
    gameKeys.count(k => k == null || !ids(k.longValue)).toLong
  }

  /** `/games`: the first `limit` rows, or all of them. */
  def games(limit: Option[Int]): JArray =
    JArray(limit.fold(display)(display.take).toList.map(JObject(_)))

  /** `/vector-search`: the top `k` of every joined row against `query`. */
  def vectorSearch(query: Array[Double], k: Int): JArray =
    topK(Seq(query), skip = None, k)

  /** `/similar-search`: the top `k` of every other joined row against each
    * embedding row of `id` (several rows multiply candidates, like the
    * cross join); None when `id` has no embedding row. */
  def similarSearch(id: Long, k: Int): Option[JArray] = {
    val targets = embIds.indices.filter(embIds(_) == id).map(embVecs)
    if (targets.isEmpty) None else Some(topK(targets, Some(id), k))
  }

  /** `/search`: the top `k` games rows matching `query`, which is
    * normalized and non-empty. `UTF8String.contains` reads one byte at a
    * time, so a single thread needs 12–31 ms for 20k games (4-core host);
    * each core scans one slice of the rows and keeps that slice's top `k`,
    * and [[Rank]] is total, so merging the slices' tops gives the same
    * rows in the same order. */
  def search(query: String, k: Int): JArray = {
    val q = UTF8String.fromString(query)
    val words = new GenericArrayData(TextMatch.queryWords(query).map(UTF8String.fromString))
    val slices = Runtime.getRuntime.availableProcessors
    val slice = display.length / slices + 1
    val tops = java.util.stream.IntStream.range(0, slices).parallel().mapToObj[List[Hit]] { s =>
      val rows = s * slice until math.min(display.length, (s + 1) * slice)
      best(rows.iterator.flatMap { g =>
        val t = text(g)
        Option(TextMatch.score(t(0), t(1), t(2), q, words))
          .map(m => Hit(known = true, m.base * popularity(g), gameKeys(g), g, m.matchType.toString))
      }, k)
    }.toArray(new Array[List[Hit]](_))
    JArray(best(tops.iterator.flatten, k).map { h =>
      JObject(display(h.game) :+ ("matchType" -> JString(h.matchType)) :+
        ("relevanceScore" -> JsonEnvelope.anyToJson(pround(h.score, 2))))
    })
  }

  /** `/stats`, counting each games row once. `imaged` holds the distinct
    * (universeId, kind) pairs of the blob listing. */
  def stats(imaged: Set[(Long, String)]): JObject = {
    def lacking(kind: String): Long =
      gameKeys.count(k => k == null || !imaged((k.longValue, kind))).toLong
    JObject(
      "totalGames" -> JLong(display.length.toLong),
      "gamesLackingIcons" -> JLong(lacking("icon")),
      "gamesLackingThumbnails" -> JLong(lacking("thumbnail")),
      "gamesLackingDescriptions" -> JLong(lackingDescriptions),
      "gamesLackingGameplayDescriptions" -> JLong(lackingGameplayDescriptions),
      "gamesLackingEmbeddings" -> JLong(lackingEmbeddings))
  }

  /** One pass over the embeddings per target. */
  private def topK(targets: Seq[Array[Double]], skip: Option[Long], k: Int): JArray = {
    val hits = targets.iterator.flatMap { t =>
      embIds.indices.iterator.filterNot(e => skip.contains(embIds(e))).flatMap { e =>
        val v = embVecs(e)
        val known = v != null && t != null
        val cos = if (known) CosineSimilarity.cosine(v, t) else 0.0
        joined(e).iterator.map(g => Hit(known, cos * popularity(g), embIds(e), g))
      }
    }
    JArray(best(hits, k).map { h =>
      val similarity = if (h.known) JsonEnvelope.anyToJson(pround(h.score, 2)) else JNull
      JObject(display(h.game) :+ ("similarity" -> similarity))
    })
  }
}

object ServingSnapshot {

  /** The columns every games-shaped response renders, in order. */
  val Display: Seq[String] =
    Seq("universeId", "rootPlaceId", "name", "description", "gameplayDescription")

  /** A scored games row: `known` is false where Spark's score would be
    * null, `id` is its universeId (null if absent), and a text match
    * carries its `matchType`. */
  private final case class Hit(known: Boolean, score: Double, id: java.lang.Long, game: Int,
      matchType: String = null)

  /** Spark's `orderBy(desc(score), col("universeId"))`: NaN first and
    * −0.0 equal to 0.0 (`SQLOrderingUtil`), a null score last, then
    * universeId ascending, a null one first. The games row breaks exact
    * ties, which Spark leaves open. */
  private val Rank: Ordering[Hit] = new Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = {
      val byScore =
        if (a.known != b.known) (if (a.known) -1 else 1)
        else if (a.known) SQLOrderingUtil.compareDoubles(b.score, a.score)
        else 0
      val byId =
        if (a.id == null || b.id == null) java.lang.Boolean.compare(b.id == null, a.id == null)
        else java.lang.Long.compare(a.id, b.id)
      if (byScore != 0) byScore
      else if (byId != 0) byId
      else Integer.compare(a.game, b.game)
    }
  }

  /** The `k` best of `hits` in [[Rank]] order, kept in a bounded heap
    * whose root is the worst hit kept. */
  private def best(hits: Iterator[Hit], k: Int): List[Hit] = {
    val heap = new java.util.PriorityQueue[Hit](k, Rank.reverse)
    hits.foreach { h =>
      if (heap.size < k) heap.add(h)
      else if (Rank.lt(h, heap.peek)) { heap.poll(); heap.add(h) }
    }
    heap.asScala.toList.sorted(Rank)
  }

  /** Two collects: the games rows sorted by Spark itself (its `lower` and
    * UTF-8 byte order, not Java's), with the popularity factor, the
    * `/stats` text predicates and the kernel's lowered text evaluated as
    * Columns; and the embeddings with a non-null universeId. A games frame
    * without `playerCount` scores every row as a null count, 0.8. */
  def build(games: DataFrame, embeddings: DataFrame): ServingSnapshot = {
    val playerCount =
      if (games.columns.contains("playerCount")) col("playerCount") else lit(null)
    val rows = games
      .orderBy(lower(col("name")), col("name"), col("universeId"))
      .select(Display.map(col) ++ Seq(
        col("universeId").cast("long"),
        popularityFactor(playerCount),
        // the reference's two lacking-text tests differ (stats.get.ts:74-84):
        // a whitespace-only description is PRESENT, a blank gameplay one is not
        col("description").isNull || col("description") === "",
        col("gameplayDescription").isNull || trim(col("gameplayDescription")) === "") ++
        TextMatch.loweredText: _*)
      .collect()
    val n = Display.length
    val vecs = embeddings.filter(col("universeId").isNotNull)
      .select(col("universeId").cast("long"), asDouble(col("embedding")))
      .collect()
    new ServingSnapshot(
      display = rows.map(r => Display.indices.toList.map(i =>
        Display(i) -> JsonEnvelope.anyToJson(if (r.isNullAt(i)) null else r.get(i)))),
      popularity = rows.map(_.getDouble(n + 1)),
      gameKeys = rows.map(r => if (r.isNullAt(n)) null else java.lang.Long.valueOf(r.getLong(n))),
      // lowered text is valid UTF-8 (Spark lowers non-ASCII through Java
      // strings), so the String round trip keeps its bytes
      text = rows.map(r => Array.tabulate(3)(i => UTF8String.fromString(r.getString(n + 4 + i)))),
      lackingDescriptions = rows.count(_.getBoolean(n + 2)).toLong,
      lackingGameplayDescriptions = rows.count(_.getBoolean(n + 3)).toLong,
      embIds = vecs.map(_.getLong(0)),
      embVecs = vecs.map(vector))
  }

  /** A null element reads as 0.0, as `ArrayData.getDouble` gives the
    * expression. */
  private def vector(r: Row): Array[Double] =
    if (r.isNullAt(1)) null
    else r.getSeq[Any](1).iterator.map {
      case null => 0.0
      case d => d.asInstanceOf[Double]
    }.toArray
}
