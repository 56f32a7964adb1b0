package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{OracleViews, Tables}
import graft.functions.VectorFunctions._
import graft.functions.OracleParity.pround

/** Vector similarity search (SURVEY §2.10): the reference's
  * `/similar-search/:universeId` and `/vector-search` endpoints re-expressed
  * as Spark plans.
  *
  * Scale design: the QUERY side (one target vector, or a small batch of
  * query vectors) is broadcast; the EMBEDDING side streams through executors
  * partition-by-partition. Cosine runs inside WholeStageCodegen via
  * higher-order functions, and top-k is orderBy+limit which Catalyst plans
  * as TakeOrderedAndProject — per-partition heaps merged on the driver, so
  * there is no global sort and no shuffle of the scored set. At 100 TB of
  * embeddings this is an embarrassingly parallel scan, unlike the
  * reference's single-threaded O(N·d) loop
  * (reference: src/endpoints/similarSearch.get.ts:126-142).
  */
object Similarity {

  private val TargetId = 42L

  /** `/similar-search/42`: cosine vs all other games × popularity factor,
    * top-10, decorated via inner join (drops orphan embeddings natively —
    * the reference instead crashes on them, similarSearch.get.ts:133). */
  /** Table-injected form — also the entry point for data loaded through
    * CompatIO (the reference's own JSON files). NaN similarities (zero
    * vectors) sort FIRST under desc — Spark treats NaN as the largest
    * double, where the reference's JS comparator is unspecified on NaN. */
  /** Scored frame (all game columns + `sim`) — the oracle query's input,
    * and the plan the API's serving snapshot must answer like
    * (ServingSnapshotSpec). */
  def similarScored(games: DataFrame, embeddings: DataFrame, targetId: Long): DataFrame = {
    val target = embeddings.filter(col("universeId") === targetId)
      .select(col("embedding").as("target_embedding"))
    embeddings.filter(col("universeId") =!= targetId)
      .crossJoin(broadcast(target))
      .join(games, Seq("universeId"))
      .withColumn("sim",
        cosineSimilarity(col("embedding"), col("target_embedding")) *
          popularityFactor(col("playerCount")))
  }

  def similarSearchOn(games: DataFrame, embeddings: DataFrame, targetId: Long, k: Int): DataFrame =
    similarScored(games, embeddings, targetId)
      .orderBy(desc("sim"), col("universeId"))
      .limit(k)
      .select(col("universeId"), col("rootPlaceId"), col("name"),
        pround(col("sim"), 2).as("similarity"))

  def similarSearch(spark: SparkSession, dir: String): DataFrame =
    similarSearchOn(Tables.games(spark, dir), Tables.gameEmbeddings(spark, dir), TargetId, 10)

  val similarSearchSql: String = OracleViews.withGamesAndEmbeddings(
    """, target AS (SELECT embedding::DOUBLE[] AS tv FROM game_embeddings WHERE universeId = 42),
      |scored AS (
      |  SELECT e.universeId, g.rootPlaceId, g.name,
      |         list_dot_product(e.embedding::DOUBLE[], t.tv)
      |           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |              * sqrt(list_dot_product(t.tv, t.tv)))
      |           * (least(0.2, coalesce(g.playerCount, 0) / 500.0) + 0.8) AS sim
      |  FROM game_embeddings e
      |  CROSS JOIN target t
      |  JOIN games g ON g.universeId = e.universeId
      |  WHERE e.universeId <> 42)
      |SELECT universeId, rootPlaceId, name, floor(sim * 100 + 0.5) / 100.0 AS similarity
      |FROM scored
      |ORDER BY sim DESC, universeId
      |LIMIT 10""".stripMargin)

  /** Deterministic synthetic query vector standing in for the embedding-API
    * call (reference: vectorSearch.get.ts:105-121 embeds the query string;
    * integer arithmetic keeps Spark and DuckDB bit-identical). */
  private def queryVector = transform(sequence(lit(0), lit(63)),
    i => ((i * lit(37)) % 101 - 50).cast("double") / 100.0)

  /** Scored frame for an arbitrary query vector (no self-exclusion —
    * reference: vectorSearch.get.ts:137-147). */
  def vectorScored(games: DataFrame, embeddings: DataFrame, queryVec: Column): DataFrame =
    embeddings.join(games, Seq("universeId"))
      .withColumn("sim",
        cosineSimilarity(col("embedding"), queryVec) *
          popularityFactor(col("playerCount")))

  /** Parameterized top-k over [[vectorScored]] — shared by the fixed
    * oracle query and the `vector_search(k)` SQL table function. */
  def vectorSearchOn(games: DataFrame, embeddings: DataFrame, queryVec: Column, k: Int): DataFrame =
    vectorScored(games, embeddings, queryVec)
      .orderBy(desc("sim"), col("universeId"))
      .limit(k)
      .select(col("universeId"), col("rootPlaceId"), col("name"),
        pround(col("sim"), 2).as("similarity"))

  /** The deterministic stand-in query vector, exposed for the SQL surface. */
  def defaultQueryVector: Column = queryVector

  /** `/vector-search?q=...`: cosine of a query vector vs ALL games. */
  def vectorSearch(spark: SparkSession, dir: String): DataFrame =
    vectorSearchOn(Tables.games(spark, dir), Tables.gameEmbeddings(spark, dir), queryVector, 10)

  val vectorSearchSql: String = OracleViews.withGamesAndEmbeddings(
    """, qv AS (SELECT list_transform(generate_series(0, 63),
      |                i -> ((i * 37) % 101 - 50)::DOUBLE / 100.0) AS v),
      |scored AS (
      |  SELECT e.universeId, g.rootPlaceId, g.name,
      |         list_dot_product(e.embedding::DOUBLE[], qv.v)
      |           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |              * sqrt(list_dot_product(qv.v, qv.v)))
      |           * (least(0.2, coalesce(g.playerCount, 0) / 500.0) + 0.8) AS sim
      |  FROM game_embeddings e
      |  CROSS JOIN qv
      |  JOIN games g ON g.universeId = e.universeId)
      |SELECT universeId, rootPlaceId, name, floor(sim * 100 + 0.5) / 100.0 AS similarity
      |FROM scored
      |ORDER BY sim DESC, universeId
      |LIMIT 10""".stripMargin)

  /** Batched brute-force k-NN (the ANN baseline of the training-data
    * pipeline): top-5 cosine neighbors for each of 5 query vectors in ONE
    * pass — broadcast the query batch, stream the candidates, rank per
    * query with a window. Plain cosine, no popularity (pipeline op, not a
    * reference endpoint). */
  def annBruteForce(spark: SparkSession, dir: String): DataFrame =
    annBruteForceK(spark, dir, 5)

  /** Exact ground truth over an arbitrary `(vec_id, v)` corpus — feeds the
    * clustered-corpus recall harness. Queries are the canonical ids 0..4. */
  private[graft] def annBruteForceKOn(e: DataFrame, k: Int): DataFrame = {
    val queries = e.filter(col("vec_id") >= 0 && col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val candidates = e.select(col("vec_id").as("neighbor_id"), col("v").as("nv"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    candidates.crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineSimilarity(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private[operators] def annBruteForceK(spark: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("query_embedding"))
    val candidates = emb.select(col("vec_id").as("neighbor_id"), col("embedding"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    candidates.crossJoin(broadcast(queries))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineSimilarity(col("embedding"), col("query_embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annBruteForceSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         list_dot_product(e.embedding::DOUBLE[], q.qe)
      |           / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
      |              * sqrt(list_dot_product(q.qe, q.qe))) AS cos
      |  FROM embeddings e CROSS JOIN q
      |  WHERE e.vec_id <> q.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cos,
      |         row_number() OVER (PARTITION BY query_id
      |                            ORDER BY cos DESC, neighbor_id) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  /** P13 — dimension-mismatch guard: the CLI search drops wrong-dimension
    * vectors before scoring (reference: src/lib/commands/search.ts:74-76;
    * deliberately absent from the API endpoints — this query is the CLI
    * behavior). A corrupted 32-dim copy of every 50th vector is unioned in
    * and must be excluded by `size(embedding) = 64`. */
  def dimGuard(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val corrupted = e.filter(col("vec_id") % 50 === 0)
      .select((col("vec_id") + 500000L).as("vec_id"),
        slice(col("embedding"), 1, 32).as("embedding"))
    e.unionByName(corrupted)
      .agg(
        count(when(size(col("embedding")) === 64, 1)).as("valid_dim"),
        count(when(size(col("embedding")) =!= 64, 1)).as("dropped_dim"))
  }

  val dimGuardSql: String =
    """WITH all_vecs AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 500000, embedding[1:32] FROM embeddings WHERE vec_id % 50 = 0)
      |SELECT
      |  count(CASE WHEN len(embedding) = 64 THEN 1 END) AS valid_dim,
      |  count(CASE WHEN len(embedding) <> 64 THEN 1 END) AS dropped_dim
      |FROM all_vecs""".stripMargin

  // ---------------------------------------- random-projection LSH buckets

  private val NumPlanes = 8

  /** ANN scale path #2: sign-of-projection LSH. Each vector gets an 8-bit
    * bucket from the signs of 8 hyperplane projections
    * ([[graft.functions.VectorFunctions.hyperplaneBucket]] — shared with the
    * embedding near-dup candidate generator); search only scans the query's
    * bucket (expected 1/256 of the corpus), then exact cosine top-k.
    * Approximate by construction — recall trades against the scan fraction
    * via NumPlanes — but fully deterministic, so oracle-checkable. */
  def annLshBuckets(spark: SparkSession, dir: String): DataFrame =
    annLshBucketsOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")))

  /** Same search over an arbitrary `(vec_id, v)` corpus — the recall
    * harness runs it on the clustered demonstration corpus too. */
  private[operators] def annLshBucketsOn(e: DataFrame): DataFrame = {
    val b = e.withColumn("bucket", hyperplaneBucket(col("v"), NumPlanes))
    val q = b.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
    val c = b.select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("bucket"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosineSimilarity(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annLshBucketsSql: String = {
    val bucketExpr = hyperplaneBucketSql("v", NumPlanes)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |         $bucketExpr AS bucket
       |      FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 5),
       |scored AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         list_dot_product(c.v, q.qv)
       |           / (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
       |  FROM b c JOIN q ON c.bucket = q.bucket
       |  WHERE c.vec_id <> q.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** ANN scale path #2b — MULTI-PROBE LSH: the recall harness showed
    * single-bucket probing recalls ~0 at fixture scale (256 buckets over
    * ~2k vectors rarely co-bucket true neighbors), so each query probes
    * ALL NumPlanes buckets at Hamming distance 1 from its own in addition
    * to the exact bucket (every one-bit flip — not the query-directed
    * "closest to crossing" ranking of Lv et al., VLDB'07; with 8 planes
    * the full Hamming-1 ring is only 9 probes, so ranking them buys
    * nothing). Scan fraction grows to (1+planes)/2^planes (9/256 here)
    * for a large recall gain, deterministic and oracle-checked like
    * everything else.
    *
    * Shuffle discipline (round-3 fix, order corrected round 4): candidate
    * pairs collide in several probe buckets, so they are dedup'd — on the
    * 16-byte (query_id, neighbor_id) pair ONLY. The vectors join back
    * AFTER the distinct, neighbor side FIRST: the neighbor-id join's
    * exchanges carry either bare id pairs or one corpus row per vector —
    * never a per-candidate vector payload — and the 5-row query-vector
    * side is broadcast LAST, so no exchange ever carries qv. */
  def annLshMultiprobe(spark: SparkSession, dir: String): DataFrame =
    annLshMultiprobeOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")))

  private[operators] def annLshMultiprobeOn(e: DataFrame): DataFrame = {
    val b = e.withColumn("bucket", hyperplaneBucket(col("v"), NumPlanes))
    val probes = array(col("bucket") +:
      (0 until NumPlanes).map(j => col("bucket").bitwiseXOR(lit(1 << j))): _*)
    val q = b.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("bucket"))
    val qProbe = q.select(col("query_id"), explode(probes).as("bucket"))
    val pairs = b.select(col("vec_id").as("neighbor_id"), col("bucket"))
      .join(broadcast(qProbe), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    pairs
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), Seq("neighbor_id"))
      .join(broadcast(q.select(col("query_id"), col("qv"))), Seq("query_id"))
      .withColumn("cos", cosineSimilarity(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  val annLshMultiprobeSql: String = {
    val bucketExpr = hyperplaneBucketSql("v", NumPlanes)
    val flips = (0 until NumPlanes).map(j => s"xor(bucket, ${1 << j})").mkString(", ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |b AS (SELECT vec_id, v,
       |         $bucketExpr AS bucket
       |      FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, unnest([bucket, $flips]) AS bucket
       |      FROM b WHERE vec_id < 5),
       |cand AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id, c.v AS nv, q.qv
       |  FROM b c JOIN q ON c.bucket = q.bucket
       |  WHERE c.vec_id <> q.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         list_dot_product(nv, qv)
       |           / (sqrt(list_dot_product(nv, nv)) * sqrt(list_dot_product(qv, qv))) AS cos
       |  FROM cand),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------- multi-table LSH (round 3)

  /** L independent hash tables (one plane family per multiplier). */
  private[operators] val TableMults = Seq(29, 37, 59, 73)
  private[operators] val TablePlanes = 4

  /** ANN scale path #2c — MULTI-TABLE LSH (the standard L-tables
    * construction, e.g. Gionis/Indyk/Motwani VLDB'99): L=4 independent
    * plane families of 4 planes each; a vector lands in one bucket PER
    * TABLE and candidates are the union of the query's bucket across
    * tables, dedup'd on the 16-byte id pair, then exact-cosine verified.
    * Collision probability for a neighbor at angle θ is
    * 1−(1−(1−θ/π)^P)^L per query — multiple independent chances where the
    * single-table path has one.
    *
    * Measured on the fixture (near-uniform synthetic vectors, true-top-3
    * cosine only ~0.26–0.40): recall@3 = 0.93 at a 0.48 scan fraction —
    * against 0.13 for single-table Hamming-1 multi-probe. On near-uniform
    * data recall ≈ scan fraction is the information-theoretic reality
    * (documented in SCALING.md); on clustered real-world embeddings the
    * same construction concentrates much faster. All integer-arithmetic
    * planes, so the DuckDB oracle replays every table bit-for-bit. */
  def annLshMultitable(spark: SparkSession, dir: String): DataFrame =
    annLshMultitableOn(Tables.embeddings(spark, dir)
      .select(col("vec_id"), asDouble(col("embedding")).as("v")))

  private[operators] def annLshMultitableOn(e: DataFrame): DataFrame = {
    val tb = array(TableMults.zipWithIndex.map { case (m, t) =>
      struct(lit(t).as("t"), hyperplaneBucketT(col("v"), m, TablePlanes).as("bucket"))
    }: _*)
    val b = e.select(col("vec_id"), explode(tb).as("tb"))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.bucket").as("bucket"))
    val q = b.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("t"), col("bucket"))
    val pairs = b.select(col("vec_id").as("neighbor_id"), col("t"), col("bucket"))
      .join(broadcast(q), Seq("t", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"))
      .distinct()
    val qv = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(desc("cos"), col("neighbor_id"))
    pairs
      .join(e.select(col("vec_id").as("neighbor_id"), col("v").as("nv")), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("cos", cosineSimilarity(col("nv"), col("qv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("rank").cast("long").as("rank"),
        pround(col("cos"), 4).as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** DuckDB CTE block (no WITH prefix) computing the per-table buckets as
    * `bName` from relation `eRel(vec_id, v)` — shared with the recall
    * harness oracle. */
  private[operators] def multitableBucketsSql(eRel: String, bName: String): String = {
    val parts = TableMults.zipWithIndex.map { case (m, t) =>
      s"""SELECT vec_id, $t AS t,
         |         ${hyperplaneBucketTSql("v", m, TablePlanes)} AS bucket
         |      FROM $eRel""".stripMargin
    }.mkString("\n      UNION ALL\n      ")
    s"$bName AS ($parts)"
  }

  val annLshMultitableSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |${multitableBucketsSql("e", "b")},
       |q AS (SELECT vec_id AS query_id, t, bucket FROM b WHERE vec_id < 5),
       |pairs AS (
       |  SELECT DISTINCT q.query_id, c.vec_id AS neighbor_id
       |  FROM b c JOIN q ON c.t = q.t AND c.bucket = q.bucket
       |  WHERE c.vec_id <> q.query_id),
       |scored AS (
       |  SELECT p.query_id, p.neighbor_id,
       |         list_dot_product(n.v, qe.v)
       |           / (sqrt(list_dot_product(n.v, n.v)) * sqrt(list_dot_product(qe.v, qe.v))) AS cos
       |  FROM pairs p
       |  JOIN e n ON n.vec_id = p.neighbor_id
       |  JOIN e qe ON qe.vec_id = p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, floor(cos * 10000 + 0.5) / 10000.0 AS cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // s_mmr_rerank — maximal marginal relevance: diversity-aware top-k
  // ---------------------------------------------------------------------

  private val MmrPool = 30
  private val MmrK = 10
  private val MmrLambda = 0.7
  private val MmrGamma = 0.3 // literal, NOT 1-λ: 1.0-0.7 is 0.30000000000000004

  private def r6(x: Double): Double = math.floor(x * 1000000.0 + 0.5) / 1000000.0

  /** Maximal marginal relevance re-ranking [Carbonell & Goldstein, SIGIR
    * 1998] — the diversity-aware top-k every RAG retriever and
    * hard-negative miner needs: greedily pick the candidate maximizing
    * λ·rel(d) − γ·max_{s∈S} sim(d, s), so each pick is relevant to the
    * query but NOT redundant with what's already selected.
    *
    * Scale split, same story as the NSW serve path: the CANDIDATE POOL is
    * the distributed part — a full-corpus cosine scan planned as
    * TakeOrderedAndProject (per-partition heaps, no shuffle of the scored
    * set; at 100 TB swap in any stored-artifact ANN serve query as the
    * pool source). The greedy re-rank is REQUEST-scale: O(K·P) pairwise
    * cosines over the P=[[MmrPool]] collected rows — a bounded driver
    * materialization like the API's clamped page reads, NOT a corpus
    * operation. Determinism across engines: relevance and pairwise
    * similarities are rounded to 6dp before every comparison (the
    * priority-sample race-key discipline) with universeId tiebreaks, and
    * γ is a literal 0.3 on both sides (1.0−0.7 differs from the 0.3
    * literal by one ulp). The oracle unrolls the K greedy steps as
    * chained CTEs over a pool×pool pairs table — the BPE-loop
    * convention. */
  /** The distributed half: full-corpus cosine top-[[MmrPool]] as a
    * TakeOrderedAndProject (rel rounded to 6dp, id tiebreak). */
  private[graft] def mmrPoolFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.gameEmbeddings(spark, dir)
      .join(Tables.games(spark, dir), Seq("universeId"))
      .withColumn("rel", cosineSimilarity(col("embedding"), queryVector))
      .filter(!isnan(col("rel")))
      .select(col("universeId"), col("name"),
        col("embedding").cast("array<double>").as("emb"),
        pround(col("rel"), 6).as("rel6"))
      .orderBy(desc("rel6"), col("universeId"))
      .limit(MmrPool)

  /** Pool ids in relevance order — the redundancy baseline MMR is
    * measured against in SimilaritySpec. */
  private[graft] def mmrPoolIds(spark: SparkSession, dir: String): Seq[Long] =
    mmrPoolFrame(spark, dir).select(col("universeId"))
      .collect().map(_.getLong(0)).toSeq

  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pool = mmrPoolFrame(spark, dir)
      .collect() // bounded: MmrPool rows — the request-scale driver boundary
      .map(r => (r.getLong(0), r.getString(1),
        r.getSeq[Double](2).toArray, r.getDouble(3)))

    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, String, Array[Double], Double, Double)]
    var remaining = pool.toList
    while (selected.size < MmrK && remaining.nonEmpty) {
      val scored = remaining.map { case c @ (_, _, emb, rel6) =>
        val maxSim =
          if (selected.isEmpty) 0.0
          else selected.iterator.map(s => r6(cos(emb, s._3))).max
        (c, r6(MmrLambda * rel6 - MmrGamma * maxSim))
      }
      val ((id, name, emb, rel6), score) =
        scored.minBy { case ((id, _, _, _), s) => (-s, id) }
      selected += ((id, name, emb, rel6, score))
      remaining = remaining.filterNot(_._1 == id)
    }
    selected.toSeq.zipWithIndex
      .map { case ((id, name, _, rel6, score), i) => (i + 1L, id, name, score, rel6) }
      .toDF("rank", "universeId", "name", "mmr", "rel")
  }

  val mmrRerankSql: String = {
    val cosSql = (a: String, b: String) =>
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"
    val steps = (2 to MmrK).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT c.universeId,
         |         floor(($MmrLambda * c.rel6 - $MmrGamma * (
         |             SELECT max(pr.sim6) FROM pairs pr
         |             WHERE pr.a_id = c.universeId
         |               AND pr.b_id IN (SELECT universeId FROM sel${i - 1})))
         |           * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM pool c
         |  WHERE c.universeId NOT IN (SELECT universeId FROM sel${i - 1})
         |  ORDER BY score DESC, c.universeId LIMIT 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1}
         |          UNION ALL SELECT universeId, $i AS rank, score FROM p$i)""".stripMargin
    }.mkString(",\n")
    OracleViews.withGamesAndEmbeddings(
      s""", qv AS (SELECT list_transform(generate_series(0, 63),
         |                i -> ((i * 37) % 101 - 50)::DOUBLE / 100.0) AS v),
         |pool AS MATERIALIZED (
         |  SELECT e.universeId, g.name, e.embedding::DOUBLE[] AS emb,
         |         floor(${cosSql("e.embedding::DOUBLE[]", "qv.v")}
         |           * 1000000.0 + 0.5) / 1000000.0 AS rel6
         |  FROM game_embeddings e
         |  CROSS JOIN qv
         |  JOIN games g ON g.universeId = e.universeId
         |  WHERE list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]) > 0
         |  ORDER BY rel6 DESC, e.universeId LIMIT $MmrPool),
         |pairs AS MATERIALIZED (
         |  SELECT a.universeId AS a_id, b.universeId AS b_id,
         |         floor(${cosSql("a.emb", "b.emb")} * 1000000.0 + 0.5)
         |           / 1000000.0 AS sim6
         |  FROM pool a JOIN pool b ON a.universeId <> b.universeId),
         |p1 AS MATERIALIZED (
         |  SELECT universeId,
         |         floor(($MmrLambda * rel6 - $MmrGamma * 0.0)
         |           * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM pool ORDER BY score DESC, universeId LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT universeId, 1 AS rank, score FROM p1),
         |$steps
         |SELECT CAST(s.rank AS BIGINT) AS rank, s.universeId, p.name,
         |       s.score AS mmr, p.rel6 AS rel
         |FROM sel$MmrK s JOIN pool p ON p.universeId = s.universeId
         |ORDER BY s.rank""".stripMargin)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s_similar_search" -> similarSearch,
    "s_vector_search" -> vectorSearch,
    "s_mmr_rerank" -> mmrRerank,
    "ann_brute_force_topk" -> annBruteForce,
    "ann_lsh_buckets" -> annLshBuckets,
    "ann_lsh_multiprobe" -> annLshMultiprobe,
    "ann_lsh_multitable" -> annLshMultitable,
    "p13_dim_guard" -> dimGuard
  )

  val oracles: Map[String, String] = Map(
    "s_similar_search" -> similarSearchSql,
    "s_vector_search" -> vectorSearchSql,
    "s_mmr_rerank" -> mmrRerankSql,
    "ann_brute_force_topk" -> annBruteForceSql,
    "ann_lsh_buckets" -> annLshBucketsSql,
    "ann_lsh_multiprobe" -> annLshMultiprobeSql,
    "ann_lsh_multitable" -> annLshMultitableSql,
    "p13_dim_guard" -> dimGuardSql
  )
}
