package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.functions.OracleParity.pround
import graft.io.Tables
import graft.tools.CacheRegistry

/** Recall harness for the approximate ANN paths — the number a user needs
  * before trusting an approximate search over the exact scan: recall@3 of
  * each method (single-cell IVF, nprobe=2 IVF, single-table LSH, Hamming-1
  * multi-probe LSH, 4-table LSH, PQ/ADC, IVFPQ, IVFADC, NSW/HNSW/NN-descent
  * graph search) against the brute-force truth on the same query set.
  * Fully deterministic (all approximate methods and the ground truth are),
  * so the whole comparison is oracle-checkable in DuckDB, training replay
  * included. Round-3 measurement: ivf_nprobe and lsh_multitable both land
  * at recall@3 = 0.93 on the sf0.01 fixture (scan fractions 0.24 / 0.48 —
  * see SCALING.md).
  *
  * Shape: ground truth and both approximations are per-query top-k
  * DataFrames; recall = |approx ∩ truth| / k via a left join on
  * (query_id, neighbor_id) and a count of hits — no collect, scales with
  * the query batch. The per-group counts are then right-joined onto the
  * full method × query grid so a (method, query) pair with ZERO candidates
  * scores recall 0 instead of silently dropping out — without the grid a
  * sparse method (single-table LSH misses buckets entirely at fixture
  * scale) would have its mean recall biased upward.
  *
  * The harness runs on TWO corpora: the near-uniform embeddings fixture
  * (`ann_recall`) and a derived CLUSTERED corpus (`ann_recall_clustered`)
  * — SCALING.md's central claim is "measure per-corpus before trusting an
  * approximate path", and the clustered run is the oracle-checked evidence
  * that the ordering genuinely flips with corpus geometry (residual
  * quantization and graph navigation win exactly where the uniform fixture
  * says they lose).
  */
object AnnRecall {

  private val K = 3

  /** Everything an approximate method's frame builder may need: the
    * corpus `(vec_id, v)`, its trained IVF assignment, and the cache/store
    * coordinates namespacing the shared artifact builds (the data dir for
    * the fixture corpus — SAME keys and IndexStore artifacts as the
    * standalone queries and `index_build_*` entries — and `#clustered`
    * keys / `-clustered` artifacts for the derived corpus, built by
    * `index_build_clustered`). One shared k-means training feeds both IVF
    * rows and one shared PQ training feeds the PQ rows (the harness
    * compares search policies, not training runs). All artifacts are
    * lazy — built only if a listed method needs them. */
  private final case class MethodInputs(
      spark: SparkSession, e: DataFrame,
      assigned: DataFrame, centroids: Seq[(Int, Array[Double])],
      dir: String, clustered: Boolean) {
    // the serve-time sized dials (pinned values at oracle fixture sizes,
    // so the hash-checked harness replays unchanged)
    lazy val hops: Int = Nsw.sizedHops(e.count())
    lazy val hops1: Int = Nsw.sizedHopsFloor(e.count() / Nsw.SampleMod, Nsw.HopsL1)
    lazy val beam: Int = Nsw.sizedBeam(e.count())
    val tag: String = if (clustered) s"$dir#clustered" else dir
    private val sfx = if (clustered) "-clustered" else ""
    lazy val pqCodebooks: Seq[Seq[(Int, Array[Double])]] =
      CacheRegistry.sharedObject(s"pq-codebooks:$tag")(
        graft.tools.IndexStore.readOrBuildCodebooks(spark, dir, s"pq-codebooks$sfx")(
          Pq.trainCodebooksSized(e)))
    lazy val residualCodebooks: Seq[Seq[(Int, Array[Double])]] =
      CacheRegistry.sharedObject(s"ivfadc-codebooks:$tag")(
        graft.tools.IndexStore.readOrBuildCodebooks(spark, dir, s"ivfadc-codebooks$sfx")(
          Ivfadc.residualCodebooksSized(assigned, centroids)))
    lazy val nswEdges: DataFrame = CacheRegistry.sharedTracked(s"nsw-edges:$tag")(
      graft.tools.IndexStore.readOrBuild(spark, dir, s"nsw-edges$sfx")(Nsw.edgesOnSized(e)))
    lazy val hnswL1Edges: DataFrame = CacheRegistry.sharedTracked(s"hnsw-l1:$tag")(
      graft.tools.IndexStore.readOrBuild(spark, dir, s"hnsw-l1$sfx")(
        Nsw.edgesOnSized(e.filter(col("vec_id") % Nsw.SampleMod === 0), Nsw.SampleMod)))
    lazy val cellEdges: DataFrame = CacheRegistry.sharedTracked(s"nsw-cell-edges:$tag")(
      graft.tools.IndexStore.readOrBuild(spark, dir, s"nsw-cell-edges$sfx")(
        Nsw.edgesOnCellsSized(assigned, centroids.size)))
    lazy val nndEdges: DataFrame = CacheRegistry.sharedTracked(s"nnd-edges:$tag")(
      graft.tools.IndexStore.readOrBuild(spark, dir, s"nnd-edges$sfx")(
        Nsw.symmetrizeWithLongLinks(e, Nsw.nnDescentKnn(e), 1)))
  }

  /** One approximate ANN method under test: its display name, its Spark
    * candidate frame, and the name of its ranked CTE inside the harness
    * SQL. SINGLE SOURCE OF TRUTH — the Spark union, the method × query
    * grid, and the oracle's UNION ALL + VALUES clauses are all derived
    * from this list (for BOTH corpora), so a method added here appears in
    * every derived place and a method added anywhere else cannot exist
    * (the desync AnnSpec pins down). */
  private final case class Method(
      name: String,
      frame: MethodInputs => DataFrame,
      rankedCte: String)

  private val MethodSpecs: Seq[Method] = Seq(
    Method("ivf_kmeans", in => IvfKMeans.kmeansSearchOn(in.assigned), "iranked"),
    Method("ivf_nprobe",
      in => IvfKMeans.kmeansNprobeSearchOn(in.e, in.assigned, in.centroids), "npranked"),
    Method("lsh", in => Similarity.annLshBucketsOn(in.e), "lranked"),
    Method("lsh_multiprobe", in => Similarity.annLshMultiprobeOn(in.e), "mranked"),
    Method("lsh_multitable", in => Similarity.annLshMultitableOn(in.e), "mtranked"),
    Method("pq_adc", in => Pq.searchOn(in.e, in.pqCodebooks), "pqranked"),
    Method("ivfpq",
      in => Ivfpq.searchOn(in.e, in.assigned, in.centroids, in.pqCodebooks), "ipranked"),
    Method("ivfadc",
      in => Ivfadc.searchOn(in.e, in.assigned, in.centroids, in.residualCodebooks), "adranked"),
    Method("nsw",
      in => Nsw.searchWithEdgesDials(in.e, in.nswEdges, in.hops, in.beam), "nswranked"),
    Method("hnsw",
      in => Nsw.hnswWithEdges(in.e, in.hnswL1Edges, in.nswEdges, in.hops, in.hops1,
        in.beam), "hnswranked"),
    Method("nsw_nnd",
      in => Nsw.searchWithEdgesDials(in.e, in.nndEdges, in.hops, in.beam), "ndranked"),
    Method("nsw_cell",
      in => Nsw.searchWithEdgesDials(in.e, in.cellEdges, in.hops, in.beam), "nccranked"))

  private[graft] def methodNames: Seq[String] = MethodSpecs.map(_.name)

  /** The clustered run deliberately keeps the subset whose ordering the
    * corpus geometry moves — the IVF family (cells now mean something),
    * the PQ family (residuals now carry little energy → IVFADC's regime),
    * single-bucket LSH (hyperplanes cut between clusters, not through
    * them), and flat NSW (navigability) — and drops the second expensive
    * graph builds (HNSW layer pair, 5-round NN-descent) plus the LSH
    * probe variants, whose clustered behavior is implied by their parents'.
    * Keeps the second corpus' build cost at roughly one-third of the full
    * suite instead of doubling it. */
  private val ClusteredMethodNames =
    Seq("ivf_kmeans", "ivf_nprobe", "lsh", "pq_adc", "ivfpq", "ivfadc", "nsw")
  private val ClusteredMethods: Seq[Method] =
    MethodSpecs.filter(m => ClusteredMethodNames.contains(m.name))
  private[graft] def clusteredMethodNames: Seq[String] = ClusteredMethods.map(_.name)

  /** Noise-to-center mixing weight of the clustered corpus. At 0.9 the
    * noise term carries s²/(1+s²) ≈ 45% of each vector's energy — the
    * regime AnnSpec's synthetic demonstration found separates the
    * constructions (much lower and same-cluster cosines bunch too tightly
    * for ANY 4-byte code; much higher and it degenerates to the uniform
    * fixture). */
  private[operators] val ClusterSpread = 0.9

  /** The demonstration corpus is SIZE-PINNED at the first [[ClusterCap]] ids:
    * it is a regime demonstration (which method family wins on which geometry),
    * not a scale probe — scaling was measured by graft.tools.SfScale @ c6e9ec7 —
    * and an unbounded clustered corpus at larger fixtures sends the
    * pinned-planes NSW build quadratic inside the (deliberately) heavily
    * co-bucketed clusters. The flip itself was verified to HOLD without the cap
    * (oracle replay at all three fixtures; it sharpens at sf0.1: ivfadc 0.27 vs
    * ivfpq 0.07 capped vs 0.13/0.07 uncapped). */
  private[operators] val ClusterCap = 500

  /** The derived clustered corpus: 8 well-separated centers (the RAW
    * fixture vectors 8..15 — near-orthogonal in 64-d) plus per-member
    * noise `spread · v`. Same derivation pattern as [[Dedup.corpus]]'s
    * manufactured duplicates: deterministic, id-keyed, exactly replayable
    * in the DuckDB oracle. Queries (vec_id < 5) are ordinary members of
    * clusters 0..4 — ids 8..15 double as the (inflated) center members.
    * Shared-cached: training, truth, and every method scan the same
    * materialization. */
  private[graft] def clusteredCorpus(spark: SparkSession, dir: String): DataFrame =
    CacheRegistry.sharedTracked(s"ann-clustered:$dir") {
      clusteredFrom(
        Tables.embeddings(spark, dir)
          .filter(col("vec_id") < ClusterCap)
          .select(col("vec_id"), VectorFunctions.asDouble(col("embedding")).as("v")))
    }

  private def clusteredFrom(e0: DataFrame): DataFrame = {
    val ctr = e0.filter(col("vec_id") >= 8 && col("vec_id") < 16)
      .select((col("vec_id") - 8).as("cid"), col("v").as("cv"))
    e0.join(broadcast(ctr), (col("vec_id") % 8) === col("cid"))
      .select(col("vec_id"),
        zip_with(col("cv"), col("v"), (c, x) => c + lit(ClusterSpread) * x).as("v"))
  }

  private[operators] val ClusteredESql: String =
    s"""e0 AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < $ClusterCap),
       |ctr AS (SELECT vec_id - 8 AS cid, v AS cv FROM e0 WHERE vec_id >= 8 AND vec_id < 16),
       |e AS (
       |  SELECT e0.vec_id,
       |         list_transform(generate_series(1, ${IvfKMeans.Dim}),
       |                        i -> ctr.cv[i] + $ClusterSpread * e0.v[i]) AS v
       |  FROM e0 JOIN ctr ON (e0.vec_id % 8) = ctr.cid)""".stripMargin

  /** The shared recall core: truth ∩ method top-K per query over the full
    * method × query grid. */
  private def recallFrame(
      in: MethodInputs, methods: Seq[Method], truthTopK: DataFrame): DataFrame = {
    val spark = in.spark
    import spark.implicits._
    val truth = truthTopK.select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    // Method frames are built CONCURRENTLY (round 18, optimization guide
    // §2.6 — overlap independent jobs): the graph methods' beam loops run
    // eager per-hop jobs during CONSTRUCTION, each a small job followed by
    // a driver gap, and the 12 methods are mutually independent given the
    // shared inputs (MethodInputs' lazy vals are thread-safe; shared
    // artifacts come from the store). Building them sequentially left the
    // 32-core executor idle through every driver gap — measured 166
    // sequential jobs with 4.4 s of gap on a 7.4 s query. Three builds in
    // flight back-fill the gaps without fighting for cores. Each frame's
    // CONTENT is deterministic and the union keeps the declared method
    // order, so results are bit-identical to the sequential build.
    // DEADLOCK GUARD (round 19, found via a wedged SqlSurfaceSpec run):
    // when this is reached THROUGH the SQL surface (GraftExtensions'
    // `ann_recall(...)` table function), the calling thread is inside
    // `SessionCatalog.resolveBuiltinOrTempFunctionInternal`, a
    // synchronized method — it HOLDS the catalog monitor while blocking
    // on the futures, and every pool thread needs that same monitor to
    // analyze its frame (`lookupBuiltinOrTempFunction`). Circular wait,
    // permanent hang. Build sequentially in that case (identical result;
    // the overlap is an optimization, never a semantics change).
    def buildOne(m: Method): DataFrame = m.frame(in)
      .select(lit(m.name).as("method"), col("query_id"), col("neighbor_id"))
    val underCatalogLock = Thread.holdsLock(spark.sessionState.catalog)
    val approx = if (underCatalogLock) {
      methods.map(buildOne).reduce(_ unionByName _)
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      try {
        methods.map { m =>
          pool.submit(new java.util.concurrent.Callable[DataFrame] {
            def call(): DataFrame = buildOne(m)
          })
        }.map { f =>
          // surface the build's REAL exception, not the ExecutionException
          // wrapper, and stop submitted-but-unstarted builds burning
          // executor time after the query has already failed (ADVICE r18)
          try f.get()
          catch { case e: java.util.concurrent.ExecutionException =>
            pool.shutdownNow()
            throw Option(e.getCause).getOrElse(e)
          }
        }.reduce(_ unionByName _)
      } finally pool.shutdown()
    }
    val perGroup = approx
      .join(truth, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("method"), col("query_id"))
      .agg(count(col("hit")).as("hits"))
    // full grid: every method must report every query, recall 0 when the
    // method produced no candidates at all for that query
    val grid = truth.select(col("query_id")).distinct()
      .crossJoin(methods.map(_.name).toDF("method"))
    grid.join(perGroup, Seq("method", "query_id"), "left")
      .withColumn("hits", coalesce(col("hits"), lit(0L)))
      .withColumn("recall", pround(col("hits").cast("double") / lit(K.toDouble), 4))
      .orderBy(col("method"), col("query_id"))
  }

  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val (e, assigned, centroids) = IvfKMeans.trained(spark, dir)
    recallFrame(MethodInputs(spark, e, assigned, centroids, dir, clustered = false),
      MethodSpecs, Similarity.annBruteForceK(spark, dir, K))
  }

  /** The clustered quantizer — shared (same key + IndexStore artifact) by
    * the harness, the residual near-dup, and `index_build_clustered`. */
  private[operators] def clusteredCentroids(
      spark: SparkSession, dir: String, e: DataFrame): Seq[(Int, Array[Double])] =
    CacheRegistry.sharedObject(s"ivf-centroids:$dir#clustered")(
      graft.tools.IndexStore.readOrBuildCentroids(spark, dir, "ivf-centroids-clustered")(
        IvfKMeans.trainCentroids(e)))

  def annRecallClustered(spark: SparkSession, dir: String): DataFrame = {
    val e = clusteredCorpus(spark, dir)
    val centroids = clusteredCentroids(spark, dir, e)
    val assigned = IvfKMeans.assign(e, centroids)
    recallFrame(MethodInputs(spark, e, assigned, centroids, dir, clustered = true),
      ClusteredMethods, Similarity.annBruteForceKOn(e, K))
  }

  /** DuckDB mirror, parameterized on the corpus (`eDef` must define `e`)
    * and the method subset: brute-force truth, LSH buckets, the FULL
    * k-means + PQ training replays, and the graph builds composed as one
    * query — each block included only when a listed method needs it. CTE
    * names are prefixed (b/l/i/…) where they would collide. */
  private def harnessSql(eDef: String, methods: Seq[Method]): String = {
    val names = methods.map(_.name).toSet
    def needs(ms: String*): Boolean = ms.exists(names.contains)
    val cos = (a: String, b: String) =>
      s"""list_dot_product($a, $b)
         |           / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))""".stripMargin
    val blocks = Seq.newBuilder[String]
    blocks += IvfKMeans.trainingSqlFrom(eDef)
    blocks +=
      s"""bq AS (SELECT vec_id AS query_id, v AS qe FROM e WHERE vec_id < 5),
         |bscored AS (
         |  SELECT bq.query_id, e.vec_id AS neighbor_id, ${cos("e.v", "bq.qe")} AS cos
         |  FROM e CROSS JOIN bq WHERE e.vec_id <> bq.query_id),
         |branked AS (
         |  SELECT query_id, neighbor_id,
         |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM bscored),
         |truth AS (SELECT query_id, neighbor_id FROM branked WHERE rank <= $K)""".stripMargin
    if (needs("lsh", "lsh_multiprobe"))
      blocks +=
        s"""lb AS (SELECT vec_id, v,
           |         ${VectorFunctions.hyperplaneBucketSql("v", 8)} AS bucket
           |       FROM e)""".stripMargin
    if (needs("lsh"))
      blocks +=
        s"""lq AS (SELECT vec_id AS query_id, v AS qv, bucket FROM lb WHERE vec_id < 5),
           |lscored AS (
           |  SELECT lq.query_id, c.vec_id AS neighbor_id, ${cos("c.v", "lq.qv")} AS cos
           |  FROM lb c JOIN lq ON c.bucket = lq.bucket
           |  WHERE c.vec_id <> lq.query_id),
           |lranked AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM lscored)""".stripMargin
    if (needs("lsh_multiprobe"))
      blocks +=
        s"""mq AS (SELECT vec_id AS query_id, v AS qv,
           |              unnest([bucket, ${(0 until 8).map(j => s"xor(bucket, ${1 << j})").mkString(", ")}]) AS bucket
           |       FROM lb WHERE vec_id < 5),
           |mcand AS (
           |  SELECT DISTINCT mq.query_id, c.vec_id AS neighbor_id, c.v AS nv, mq.qv
           |  FROM lb c JOIN mq ON c.bucket = mq.bucket
           |  WHERE c.vec_id <> mq.query_id),
           |mscored AS (
           |  SELECT query_id, neighbor_id, ${cos("nv", "qv")} AS cos
           |  FROM mcand),
           |mranked AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM mscored)""".stripMargin
    if (needs("ivf_kmeans"))
      blocks +=
        s"""iq AS (SELECT vec_id AS query_id, v AS qv, cluster FROM afinal WHERE vec_id < 5),
           |iscored AS (
           |  SELECT iq.query_id, a.vec_id AS neighbor_id, ${cos("a.v", "iq.qv")} AS cos
           |  FROM afinal a JOIN iq ON a.cluster = iq.cluster
           |  WHERE a.vec_id <> iq.query_id),
           |iranked AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM iscored)""".stripMargin
    if (needs("ivf_nprobe", "ivfpq", "ivfadc"))
      blocks += IvfKMeans.nprobeSql("npq")
    if (needs("ivf_nprobe"))
      blocks +=
        s"""npscored AS (
           |  SELECT npq.query_id, a.vec_id AS neighbor_id, ${cos("a.v", "npq.qv")} AS cos
           |  FROM afinal a JOIN npq ON a.cluster = npq.cluster
           |  WHERE a.vec_id <> npq.query_id),
           |npranked AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM npscored)""".stripMargin
    if (needs("pq_adc", "ivfpq"))
      blocks += Pq.recallCtes
    if (needs("ivfpq"))
      blocks += Ivfpq.recallCtes("npq")
    if (needs("ivfadc"))
      blocks += Ivfadc.recallCtes("npq")
    if (needs("lsh_multitable", "nsw", "hnsw"))
      blocks += Similarity.multitableBucketsSql("e", "mtb")
    if (needs("nsw", "hnsw"))
      blocks += Nsw.searchCtes("mtb")
    if (needs("nsw_cell"))
      blocks += Nsw.cellSearchCtes
    if (needs("hnsw"))
      blocks += Nsw.hnswCtes("mtb", "nwedges")
    if (needs("nsw_nnd"))
      blocks += Nsw.nndCtes
    if (needs("lsh_multitable"))
      blocks +=
        s"""mtq AS (SELECT vec_id AS query_id, t, bucket FROM mtb WHERE vec_id < 5),
           |mtpairs AS (
           |  SELECT DISTINCT mtq.query_id, c.vec_id AS neighbor_id
           |  FROM mtb c JOIN mtq ON c.t = mtq.t AND c.bucket = mtq.bucket
           |  WHERE c.vec_id <> mtq.query_id),
           |mtscored AS (
           |  SELECT p.query_id, p.neighbor_id, ${cos("n.v", "qe.v")} AS cos
           |  FROM mtpairs p
           |  JOIN e n ON n.vec_id = p.neighbor_id
           |  JOIN e qe ON qe.vec_id = p.query_id),
           |mtranked AS (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM mtscored)""".stripMargin
    blocks +=
      s"""approx AS (
         |${methods.map(m =>
              s"  SELECT '${m.name}' AS method, query_id, neighbor_id FROM ${m.rankedCte} WHERE rank <= $K")
            .mkString("\n  UNION ALL\n")}),
         |hits AS (
         |  SELECT a.method, a.query_id, count(t.neighbor_id) AS hits
         |  FROM approx a
         |  LEFT JOIN truth t ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
         |  GROUP BY a.method, a.query_id),
         |grid AS (
         |  SELECT m.method, q.query_id
         |  FROM (SELECT DISTINCT query_id FROM truth) q
         |  CROSS JOIN (VALUES ${methods.map(m => s"('${m.name}')").mkString(", ")}) m(method))""".stripMargin
    s"""WITH ${blocks.result().mkString(",\n")}
       |SELECT g.method AS method, g.query_id AS query_id,
       |       coalesce(h.hits, 0) AS hits,
       |       floor(coalesce(h.hits, 0)::DOUBLE / ${K}.0 * 10000 + 0.5) / 10000.0 AS recall
       |FROM grid g
       |LEFT JOIN hits h ON g.method = h.method AND g.query_id = h.query_id
       |ORDER BY method, query_id""".stripMargin
  }

  val annRecallSql: String = harnessSql(IvfKMeans.DefaultESql, MethodSpecs)

  val annRecallClusteredSql: String = harnessSql(ClusteredESql, ClusteredMethods)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_recall" -> annRecall,
    "ann_recall_clustered" -> annRecallClustered
  )

  val oracles: Map[String, String] = Map(
    "ann_recall" -> annRecallSql,
    "ann_recall_clustered" -> annRecallClusteredSql
  )
}
