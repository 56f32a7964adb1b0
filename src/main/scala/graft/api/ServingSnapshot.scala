package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.json4s._

import graft.functions.CosineSimilarity
import graft.functions.OracleParity.pround
import graft.functions.VectorFunctions.{asDouble, popularityFactor}

/** What `/vector-search`, `/similar-search`, `/games` and `/stats` read,
  * collected to the driver once and never changed: the games rows in
  * `/games` order, each with its display fields and popularity factor,
  * and the embeddings as plain double arrays. Answering from it runs no
  * Spark job — the reference's own in-memory O(N·d) scan
  * (similarSearch.get.ts:126-138).
  *
  * Every answer equals the Spark plan it replaces: `vectorScored` /
  * `similarScored` inner-joined on universeId (a duplicate key on either
  * side multiplies rows, like the join), then
  * `orderBy(desc("sim"), col("universeId"))`, `limit` and `pround`.
  * ServingSnapshotSpec runs both on the same inputs. */
final class ServingSnapshot private (
    display: Array[List[JField]],
    popularity: Array[Double],
    gameKeys: Array[java.lang.Long],
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

  /** One pass over the embeddings per target with a bounded heap whose
    * root is the worst hit kept. */
  private def topK(targets: Seq[Array[Double]], skip: Option[Long], k: Int): JArray = {
    val heap = new java.util.PriorityQueue[Hit](k, Rank.reverse)
    for (t <- targets; e <- embIds.indices if !skip.contains(embIds(e))) {
      val v = embVecs(e)
      val known = v != null && t != null
      val cos = if (known) CosineSimilarity.cosine(v, t) else 0.0
      for (g <- joined(e)) {
        val hit = Hit(known, cos * popularity(g), embIds(e), g)
        if (heap.size < k) heap.add(hit)
        else if (Rank.lt(hit, heap.peek)) { heap.poll(); heap.add(hit) }
      }
    }
    val hits = heap.toArray(new Array[Hit](0)).sorted(Rank)
    JArray(hits.toList.map { h =>
      val similarity = if (h.known) JsonEnvelope.anyToJson(pround(h.sim, 2)) else JNull
      JObject(display(h.game) :+ ("similarity" -> similarity))
    })
  }
}

object ServingSnapshot {

  /** The columns every games-shaped response renders, in order. */
  val Display: Seq[String] =
    Seq("universeId", "rootPlaceId", "name", "description", "gameplayDescription")

  /** A joined row's score; `known` is false where Spark's would be null. */
  private final case class Hit(known: Boolean, sim: Double, id: Long, game: Int)

  /** Spark's `orderBy(desc("sim"), col("universeId"))`: NaN first and
    * −0.0 equal to 0.0 (`SQLOrderingUtil`), null last, then universeId
    * ascending. The games row breaks exact ties, which Spark leaves open. */
  private val Rank: Ordering[Hit] = new Ordering[Hit] {
    def compare(a: Hit, b: Hit): Int = {
      val bySim =
        if (a.known != b.known) (if (a.known) -1 else 1)
        else if (a.known) SQLOrderingUtil.compareDoubles(b.sim, a.sim)
        else 0
      if (bySim != 0) bySim
      else if (a.id != b.id) java.lang.Long.compare(a.id, b.id)
      else Integer.compare(a.game, b.game)
    }
  }

  /** Two collects: the games rows sorted by Spark itself (its `lower` and
    * UTF-8 byte order, not Java's), with the popularity factor and the
    * `/stats` text predicates evaluated as Columns; and the embeddings
    * with a non-null universeId. A games frame without `playerCount`
    * scores every row as a null count, 0.8. */
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
        col("gameplayDescription").isNull || trim(col("gameplayDescription")) === ""): _*)
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
